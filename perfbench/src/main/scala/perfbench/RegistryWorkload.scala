package perfbench

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.Random

/** `registry`: a cost-stratified sample of the registry queries at the sf0.1
  * corpus, run in seeded order. One op is one query: `QueryDef.fn(spark,
  * dir)` (the build, where the program's gate work before any action runs)
  * followed by a noop-sink write (the action). Set-up runs `WarmPasses`
  * untimed passes in the session the timed phase uses; after the timed
  * phase `graft.Verify` writes the sampled queries' outputs, in that same
  * session, for the oracle comparison.
  */
object RegistryWorkload {

  val Families: Seq[(String, Seq[QueryDef])] = {
    import graft.queries._
    Seq("Relational" -> Relational.defs, "Scalars" -> Scalars.defs,
      "Pipeline" -> Pipeline.defs, "Extras" -> Extras.defs,
      "Curation" -> Curation.defs, "Ml" -> Ml.defs)
  }
  private lazy val familyOf: Map[String, String] =
    Families.flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap
  private lazy val fnOf: Map[String, (SparkSession, String) => DataFrame] =
    Families.flatMap(_._2).map(d => d.name -> d.fn).toMap

  /** Queries per family in the sample. */
  val PerFamily = 1
  /** Queries slower than this (warm, in the costs table) stay out of the
    * pool: one of them in a pass would dominate the pass time.
    */
  val PoolCapS = 2.5
  /** Untimed passes over the sample in set-up: with two, each timed pass
    * still ran about 5% faster than the one before.
    */
  val WarmPasses = 3
  /** Full passes over the sample in the timed phase, per second of
    * `--seconds`.
    */
  val PassesPerSecond = 3.0 / 20

  /** The stratified sample: within each family the pool is sorted by cost
    * (the `calibrate` table: `name family warm_s cold_s jobs tasks ok`,
    * tab-separated, header first) and the family's share of the sample is
    * taken at evenly spaced quantiles of that order. The sample is the same
    * for every seed: at the size a run affords, a seed-dependent draw would
    * add 5-15% of cost variation to the median op (simulated over the costs
    * table) on top of the host's run-to-run noise.
    */
  def sample(costsPath: String): Seq[String] = {
    val src = scala.io.Source.fromFile(costsPath)
    val rows = try src.getLines().drop(1).map(_.split('\t')).toVector finally src.close()
    val pool = rows.filter(r => r(6) == "1" && r(2).toDouble <= PoolCapS)
    Families.map(_._1).flatMap { fam =>
      val p = pool.filter(_(1) == fam).sortBy(r => (r(2).toDouble, r(0))).map(_(0))
      val k = PerFamily
      (0 until k).map(j => p(((j + 0.5) * p.size / k).toInt))
    }
  }

  def run(cfg: Config): Map[String, Any] = {
    val names = sample(cfg.costs)
    val rnd = new Random(cfg.seed)
    val spark = Session(cfg.cpus)
    // set-up: warm passes; a query that fails here fails again when timed
    for (_ <- 0 until WarmPasses; name <- names) scala.util.Try(
      fnOf(name)(spark, cfg.sf).write.format("noop").mode("overwrite").save())
    Log("warm passes done")
    val tracer = new Tracer(spark, cfg.trace)
    val jvm = new JvmProbe
    val cpu = if (cfg.trace) Some(new CpuSampler(
      java.nio.file.Paths.get(cfg.work, "cpu.jfr"))) else None
    tracer.reset()
    val setupEndMs = System.currentTimeMillis()
    jvm.start()
    cpu.foreach(_.start())
    val t0 = tracer.nowMs
    val ops = scala.collection.mutable.ArrayBuffer.empty[(OpRec, Span)]
    val passes = math.max(1, math.round(cfg.seconds * PassesPerSecond).toInt)
    // the seed sets the order of the queries in each pass
    for (pass <- 0 until passes; name <- rnd.shuffle(names)) {
      val i = ops.size
      var err = ""
      val s = tracer.op(name) {
        try {
          val df = tracer.span("queries.build", s"op$i.build") {
            fnOf(name)(spark, cfg.sf)
          }
          tracer.span("queries.action", s"op$i.action") {
            df.write.format("noop").mode("overwrite").save()
          }
        } catch { case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}" }
      }
      ops += OpRec(i, name, familyOf(name), pass, s.startMs, s.durS,
        err.isEmpty, err.take(300)) -> s
      Log(f"op $i $name ${s.durS}%.2fs")
      tracer.drain()
    }
    val wallS = (tracer.nowMs - t0) / 1e3
    jvm.stop()
    cpu.foreach(_.stop())
    val layers =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        val counts = ops.map { case (r, s) => tracer.attach(s, s"op${r.i}.") }
        val fam = Families.map(_._1).map { f =>
          s"queries.family_s.$f" -> Stats.mean(ops.collect {
            case (r, _) if r.family == f => r.latS }.toSeq)
        }
        Map(
          "queries.build_s" -> Stats.mean(ops.map(o => tracer.childDurS(o._2, "queries.build")).toSeq),
          "queries.action_s" -> Stats.mean(ops.map(o => tracer.childDurS(o._2, "queries.action")).toSeq),
          "queries.build_jobs" -> Stats.mean(counts.map(_.jobsIn("queries.build").toDouble).toSeq),
        ) ++ fam ++ tracer.layerMetrics(counts.toSeq, wallS, cfg.cpus, jvm, cpu)
      }
    val opCounts = if (cfg.trace) ops.map { case (r, s) =>
      Map("i" -> r.i, "op" -> r.kind, "jobs" -> s.attrs.getOrElse("jobs", 0),
        "tasks" -> s.attrs.getOrElse("tasks", 0))
    }.toSeq else Nil
    if (cfg.trace) tracer.writeSpans(s"${cfg.work}/spans.jsonl")
    // untimed: the oracle outputs, by the program's own Verify, which
    // reuses this (warm) session and stops it
    graft.Verify.main((Seq(cfg.sf, s"${cfg.work}/verify") ++ names).toArray)
    Log("verify done")
    Map("workload" -> "registry", "setup_end_ms" -> setupEndMs,
      "wall_s" -> wallS, "sample" -> names, "passes" -> passes,
      "ops" -> ops.map(_._1).toSeq, "layers" -> layers, "op_counts" -> opCounts,
      "verify_dir" -> s"${cfg.work}/verify")
  }

  /** The `mult`x key-offset replica of the corpus at `base`, built the way
    * `graft.tools.ScaleCheck` builds it: fact tables are copied with their
    * keys shifted past the corpus's largest key, dimensions stay as they are.
    */
  def replicate(spark: SparkSession, base: String, dir: String, mult: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val facts = Map(
      "lineitem" -> Map("l_orderkey" -> 10000000L),
      "orders" -> Map("o_orderkey" -> 10000000L),
      "events" -> Map("event_id" -> 100000000L, "user_id" -> 1000000L),
      "documents" -> Map("doc_id" -> 10000000L),
      "embeddings" -> Map("vec_id" -> 10000000L))
    facts.foreach { case (name, keys) =>
      val src = spark.read.parquet(s"$base/$name.parquet")
      (0 until mult).map { i =>
        keys.foldLeft(src) { case (df, (c, span)) => df.withColumn(c, col(c) + lit(i * span)) }
      }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet").write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
  }

  /** ScaleCheck's probe over its own query list at 1x and 10x (one warm and
    * one timed noop run each), at this host's core count: the evidence for
    * which queries do data-proportional work.
    */
  def scaleCheck(cfg: Config): Map[String, Any] = {
    val spark = Session(cfg.cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val big = s"${cfg.work}/sf_10x"
    replicate(spark, cfg.sf, big, 10)
    Log("replica built")
    val f = graft.tools.ScaleCheck.getClass.getDeclaredField("Queries")
    f.setAccessible(true)
    val names = f.get(graft.tools.ScaleCheck).asInstanceOf[Seq[String]]
    def time(dir: String, name: String): Double = {
      val fn = fnOf(name)
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = names.map { n =>
      val (t1, t10) = try (time(cfg.sf, n), time(big, n))
        catch { case _: Throwable => (Double.NaN, Double.NaN) }
      Log(f"$n 1x $t1%.2fs 10x $t10%.2fs")
      Map("name" -> n, "family" -> familyOf(n), "t1_s" -> t1, "t10_s" -> t10)
    }
    Map("workload" -> "scalecheck", "queries" -> rows)
  }

  /** One cold and one warm noop run of every registry query, with its Spark
    * job and task counts: the cost table `sample` stratifies by.
    */
  def calibrate(cfg: Config): Map[String, Any] = {
    val spark = Session(cfg.cpus)
    val tracer = new Tracer(spark, enabled = true)
    val rows = Families.flatMap { case (fam, defs) =>
      defs.map { d =>
        def once(): (Double, Boolean) = {
          val t0 = System.nanoTime()
          val ok = try { d.fn(spark, cfg.sf).write.format("noop").mode("overwrite").save(); true }
          catch { case _: Throwable => false }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        val (cold, ok1) = once()
        tracer.reset()
        var res = (0.0, false)
        val s = tracer.op(d.name) { res = once() }
        val (warm, ok2) = res
        val c = tracer.attach(s, "none")
        Log(f"${d.name} cold $cold%.2fs warm $warm%.2fs jobs ${c.jobs}")
        Map("name" -> d.name, "family" -> fam, "cold_s" -> cold, "warm_s" -> warm,
          "ok" -> (ok1 && ok2), "jobs" -> c.jobs, "tasks" -> c.tasks)
      }
    }
    Map("workload" -> "calibrate", "queries" -> rows)
  }
}
