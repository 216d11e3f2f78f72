package perfbench

import graft.catalog._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** `table_ops`: a pixeltable-style session against one versioned table with
  * a primary key, two stored computed columns, an HNSW index, a token
  * component view and a materialized view. Set-up preloads seeded
  * documents; the timed phase runs a seeded op stream whose rounds each hold
  * the fixed `Mix`. An in-memory model of the table checks every read, and
  * the table and both views at the end, outside the timed phase.
  */
object TableOpsWorkload {

  /** Ops of each kind in one round (`Round` ops); rounds are shuffled.
    * Inserts are the middle of the latency order, so the median op falls
    * among inserts rather than in the gap between two kinds of op. Set-up
    * and one round append 4 + 12 segments to the HNSW index: at its
    * 16-segment threshold, so no index rebuild lands in the timed round.
    */
  val Mix: Seq[(String, Int)] = Seq("insert" -> 5, "view_sync" -> 1,
    "update" -> 1, "batch_update" -> 1, "delete" -> 1, "search" -> 1,
    "scan" -> 1, "time_travel" -> 1)
  val Round: Int = Mix.map(_._2).sum
  val Preload = 5000
  val InsertRows = 100
  val BatchRows = 20
  val Dim = 32
  val K = 10
  /** Per-op recall@K floor for `searchIndex` against exact cosine search. */
  val RecallFloor = 0.8
  /** Rounds in the timed phase, per second of `--seconds`. */
  val RoundsPerSecond = 1.0 / 20

  private val Words = (0 until 200).map(i => s"w$i")
  private val Categories = (0 until 8).map(i => s"c$i")

  final case class Doc(category: String, text: String, score: Double,
      vec: Vector[Double]) {
    def nTokens: Int = text.split(" ").length
    def scoreBand: Int = math.floor(score * 10).toInt
  }
  type State = Map[Long, Doc]

  private val Iter = "split(text, ' ')"
  private val MvWhere = Some("score >= 0.5")
  private val MvSelect = Seq("doc_id" -> "doc_id", "category" -> "category",
    "n_tokens" -> "n_tokens")

  /** A read op's result with the model state it must match. */
  final case class Check(i: Int, kind: String, state: State, arg: Any, got: Any)

  def run(cfg: Config): Map[String, Any] = {
    val spark = Session(cfg.cpus)
    import spark.implicits._
    val rnd = new Random(cfg.seed)
    var nextId = 0L
    def newDoc(): Doc = Doc(Categories(rnd.nextInt(Categories.size)),
      Seq.fill(4 + rnd.nextInt(20))(Words(rnd.nextInt(Words.size))).mkString(" "),
      rnd.nextInt(1000) / 1000.0, Vector.fill(Dim)(rnd.nextGaussian()))
    def frame(docs: Seq[(Long, Doc)]): DataFrame =
      docs.map { case (id, d) => (id, d.category, d.text, d.score, d.vec) }
        .toDF("doc_id", "category", "text", "score", "vec")
    def fresh(n: Int): Seq[(Long, Doc)] =
      (0 until n).map { _ => val id = nextId; nextId += 1; id -> newDoc() }

    val warehouse = s"${cfg.work}/warehouse"
    val cat = new Catalog(warehouse)
    val t = GraftTable.create(spark, cat, "docs", Seq(
      ColumnDef("doc_id", "bigint"), ColumnDef("category", "string"),
      ColumnDef("text", "string"), ColumnDef("score", "double"),
      ColumnDef("vec", "array<double>"),
      ColumnDef("n_tokens", "int", Some("size(split(text, ' '))")),
      ColumnDef("score_band", "int", Some("cast(floor(score * 10) as int)"))),
      primaryKey = Seq("doc_id"))
    var live: State = Map.empty
    val byVersion = mutable.TreeMap.empty[Long, State]
    byVersion(t.currentVersion) = live
    var userBytesRows = Seq.empty[(Long, Doc)]

    Log("session up")
    val pre = fresh(Preload)
    byVersion(t.insert(frame(pre))) = { live = pre.toMap; live }
    userBytesRows ++= pre
    Log("preloaded")
    t.createHnswIndex("vec_idx", "vec", "doc_id")
    Log("index built")
    val tokens = Views.createComponentView(spark, cat, "docs_tokens", t, Iter,
      "token", "string", Seq(ColumnDef("doc_id", "bigint")))
    val mv = Views.createMaterializedView(spark, cat, "docs_hi", t, MvWhere, MvSelect)
    Log("views created")

    val tracer = new Tracer(spark, cfg.trace)
    val checks = mutable.ArrayBuffer.empty[Check]
    var rowsInserted = 0L

    /** Runs one op of `kind`; returns a read check when the op reads. */
    def runOp(i: Int, kind: String): Option[Check] = {
      def call[T](name: String)(f: => T): T = tracer.span(s"catalog.$name", s"op$i.$name")(f)
      def action[T](f: => T): T = tracer.span("action", s"op$i.action")(f)
      kind match {
        case "insert" =>
          val rows = fresh(InsertRows)
          val df = frame(rows)
          val v = call("insert")(t.insert(df))
          live = live ++ rows; byVersion(v) = live
          userBytesRows ++= rows; rowsInserted += rows.size
          None
        case "view_sync" =>
          call("syncComponentView")(Views.syncComponentView(tokens, t, Iter, "token", Seq("doc_id")))
          call("syncMaterializedView")(Views.syncMaterializedView(mv, t, MvWhere, MvSelect))
          None
        case "update" =>
          val r = rnd.nextInt(50)
          val v = call("update")(t.update(Map("score" -> "score * 0.5 + 0.25"), s"doc_id % 50 = $r"))
          live = live.map { case (id, d) =>
            id -> (if (id % 50 == r) d.copy(score = d.score * 0.5 + 0.25) else d) }
          byVersion(v) = live
          None
        case "batch_update" =>
          val keys = rnd.shuffle(live.keys.toSeq.sorted).take(BatchRows)
          val upd = keys.map(k => k -> Seq.fill(4 + rnd.nextInt(20))(
            Words(rnd.nextInt(Words.size))).mkString(" "))
          val df = upd.toDF("doc_id", "text")
          val v = call("batchUpdate")(t.batchUpdate(df, Seq("doc_id")))
          live = live ++ upd.map { case (k, txt) => k -> live(k).copy(text = txt) }
          byVersion(v) = live
          None
        case "delete" =>
          val r = rnd.nextInt(97)
          val v = call("delete")(t.delete(s"doc_id % 97 = $r"))
          live = live.filterNot(_._1 % 97 == r); byVersion(v) = live
          None
        case "search" =>
          val q = Vector.fill(Dim)(rnd.nextGaussian())
          val df = call("searchIndex")(t.searchIndex("vec_idx", q, K))
          val got = action(df.select("vec_id").collect().map(_.getLong(0)).toSeq)
          Some(Check(i, kind, live, q, got))
        case "scan" =>
          val band = rnd.nextInt(10)
          val df = call("read")(t.read().filter(col("score_band") >= band)
            .groupBy("category").agg(count(lit(1)).as("n"), sum("n_tokens").as("tok")))
          val got = action(df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
          Some(Check(i, kind, live, band, got))
        case "time_travel" =>
          val vs = byVersion.keys.toSeq.filter(_ < t.currentVersion)
          val v = vs(rnd.nextInt(vs.size))
          val df = call("read")(t.read(Some(v))
            .agg(count(lit(1)), sum("doc_id"), sum("n_tokens")))
          val r = action(df.head())
          val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
          Some(Check(i, kind, byVersion(v), v, got))
      }
    }

    // untimed: one op of each kind, and two more inserts (with one warm
    // insert, inserts kept speeding up through the timed round)
    (Mix.map(_._1) ++ Seq.fill(2)("insert")).zipWithIndex
      .foreach { case (k, j) => runOp(-1 - j, k) }
    Log("warm round done")
    tracer.reset()
    val setupEndMs = System.currentTimeMillis()

    val jvm = new JvmProbe
    val cpu = if (cfg.trace) Some(new CpuSampler(
      java.nio.file.Paths.get(cfg.work, "cpu.jfr"))) else None
    val rounds = math.max(1, math.round(cfg.seconds * RoundsPerSecond).toInt)
    val kinds = (0 until rounds).flatMap(_ =>
      rnd.shuffle(Mix.flatMap { case (k, n) => Seq.fill(n)(k) }))
    jvm.start()
    cpu.foreach(_.start())
    val t0 = tracer.nowMs
    val ops = mutable.ArrayBuffer.empty[(OpRec, Span)]
    val opState = mutable.ArrayBuffer.empty[Map[String, Any]]
    kinds.zipWithIndex.foreach { case (kind, i) =>
      var err = ""
      val s = tracer.op(kind) {
        try runOp(i, kind).foreach(checks += _)
        catch { case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}" }
      }
      ops += OpRec(i, kind, "", i / Round, s.startMs, s.durS, err.isEmpty,
        err.take(300)) -> s
      Log(f"op $i $kind ${s.durS}%.2fs")
      tracer.drain()
      if (cfg.trace) {
        val m = t.meta
        opState += Map("version" -> m.currentVersion,
          "files" -> m.activeFiles(m.currentVersion).size)
      }
    }
    val wallS = (tracer.nowMs - t0) / 1e3
    jvm.stop()
    cpu.foreach(_.stop())

    // ---- untimed: checks, gauges, layer metrics
    val failedOps = mutable.LinkedHashMap.empty[Int, String]
    val recalls = mutable.ArrayBuffer.empty[Double]
    checks.foreach {
      case Check(i, "search", state, q: Vector[Double] @unchecked, got: Seq[Long] @unchecked) =>
        val qn = math.sqrt(q.map(x => x * x).sum)
        val exact = state.toSeq.map { case (id, d) =>
          val dn = math.sqrt(d.vec.map(x => x * x).sum)
          id -> d.vec.zip(q).map { case (a, b) => a * b }.sum / (dn * qn)
        }.sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
        val recall = got.count(exact).toDouble / K
        recalls += recall
        if (recall < RecallFloor) failedOps(i) = f"search recall@$K $recall%.2f < $RecallFloor"
      case Check(i, "scan", state, band: Int, got) =>
        val exp = state.values.filter(_.scoreBand >= band).groupBy(_.category)
          .map { case (c, ds) => (c, ds.size.toLong, ds.map(_.nTokens.toLong).sum) }.toSet
        if (got != exp) failedOps(i) = s"scan band>=$band mismatch"
      case Check(i, "time_travel", state, v, got) =>
        val exp = (state.size.toLong, state.keys.sum, state.values.map(_.nTokens.toLong).sum)
        if (got != exp) failedOps(i) = s"time travel to v$v: got $got expected $exp"
      case _ =>
    }
    ops.foreach { case (r, _) => if (!r.ok) failedOps(r.i) = r.error }

    Views.syncComponentView(tokens, t, Iter, "token", Seq("doc_id"))
    Views.syncMaterializedView(mv, t, MvWhere, MvSelect)
    val endChecks = mutable.LinkedHashMap.empty[String, Boolean]
    endChecks("table") = t.read()
      .select("doc_id", "category", "text", "score", "n_tokens", "score_band")
      .as[(Long, String, String, Double, Int, Int)].collect().sortBy(_._1).toSeq ==
      live.toSeq.sortBy(_._1).map { case (id, d) =>
        (id, d.category, d.text, d.score, d.nTokens, d.scoreBand) }
    endChecks("component_view") = tokens.read()
      .select(col("doc_id"), col(Views.Pos), col("token"))
      .as[(Long, Int, String)].collect().toSeq.sorted ==
      live.toSeq.flatMap { case (id, d) =>
        d.text.split(" ").toSeq.zipWithIndex.map { case (tk, p) => (id, p, tk) } }.sorted
    endChecks("materialized_view") = mv.read().select("doc_id", "category", "n_tokens")
      .as[(Long, String, Int)].collect().toSeq.sorted ==
      live.toSeq.collect { case (id, d) if d.score >= 0.5 =>
        (id, d.category, d.nTokens) }.sorted

    // gauges
    import scala.jdk.CollectionConverters._
    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists()) 0L
      else java.nio.file.Files.walk(f.toPath).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
    }
    def parquetBytes(df: DataFrame, name: String): Long = {
      val p = s"${cfg.work}/once/$name"
      df.coalesce(1).write.mode("overwrite").parquet(p)
      dirBytes(p)
    }
    val m = t.meta
    val metaPath = s"$warehouse/docs/meta.json"
    val loadMs = Stats.median((0 until 20).map { _ =>
      val a = System.nanoTime(); cat.load("docs"); (System.nanoTime() - a) / 1e6 })
    val warehouseBytes = dirBytes(warehouse).toDouble
    val liveBytes = parquetBytes(t.read().select("doc_id", "category", "text", "score", "vec"), "live")
    val userBytes = parquetBytes(frame(userBytesRows), "user")
    val gauges = Map(
      "versions" -> m.versions.size.toDouble,
      "live_files" -> m.activeFiles(m.currentVersion).size.toDouble,
      "index_segments" -> spark.read.parquet(m.indexes.head.path).count().toDouble,
      "meta_kb" -> new java.io.File(metaPath).length() / 1024.0,
      "meta_load_ms" -> loadMs,
      "bytes_written_per_user_byte" -> warehouseBytes / userBytes,
      "space_amp" -> warehouseBytes / liveBytes,
      "search_recall" -> Stats.mean(recalls.toSeq))

    val inserts = ops.collect { case (r, _) if r.kind == "insert" => r.latS }.toSeq
    val q = math.max(1, inserts.size / 4)
    val insertGrowth = Stats.mean(inserts.takeRight(q)) / Stats.mean(inserts.take(q))
    val layers =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        val counts = ops.map { case (r, s) => r.kind -> tracer.attach(s, s"op${r.i}.") }
        val perKind = Mix.map(_._1).flatMap { k =>
          val ks = ops.filter(_._1.kind == k)
          Seq(s"catalog.${k}_s" -> Stats.median(ks.map(_._1.latS).toSeq),
            s"catalog.${k}_jobs" -> Stats.median(counts.filter(_._1 == k).map(_._2.jobs.toDouble).toSeq))
        }
        perKind.toMap ++ gauges.map { case (k, v) => s"catalog.$k" -> v } ++
          Map("catalog.insert_growth" -> insertGrowth) ++
          tracer.layerMetrics(counts.map(_._2).toSeq, wallS, cfg.cpus, jvm, cpu)
      }
    if (cfg.trace) tracer.writeSpans(s"${cfg.work}/spans.jsonl")
    val opCounts = if (cfg.trace) ops.zip(opState).map { case ((r, s), st) =>
      Map("i" -> r.i, "op" -> r.kind, "jobs" -> s.attrs.getOrElse("jobs", 0),
        "tasks" -> s.attrs.getOrElse("tasks", 0)) ++ st
    }.toSeq else Nil
    Map("workload" -> "table_ops", "setup_end_ms" -> setupEndMs, "wall_s" -> wallS,
      "rounds" -> rounds, "ops" -> ops.map(_._1).toSeq, "failed_ops" -> failedOps,
      "end_checks" -> endChecks, "gauges" -> gauges, "rows_inserted" -> rowsInserted,
      "insert_growth" -> insertGrowth, "layers" -> layers, "op_counts" -> opCounts)
  }
}
