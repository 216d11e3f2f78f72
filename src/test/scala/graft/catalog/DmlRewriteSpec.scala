package graft.catalog

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The one copy-on-write rewrite behind delete, deleteByKeys, update,
  * batchUpdate and recomputeColumns: what `deleteByKeys` does on its own,
  * the Spark-job budget of each op, that the rewrite reads only the files
  * the probe found, the single cache-warning drain, and the one view sync.
  */
class DmlRewriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog() =
    new Catalog(java.nio.file.Files.createTempDirectory("graft-dml").toString)

  /** one insert per group of ids, each written as a single file */
  private def keyed(cat: Catalog, groups: Seq[Seq[(Long, String)]]): GraftTable = {
    val t = GraftTable.create(spark, cat, "keyed", Seq(
      ColumnDef("id", "bigint"), ColumnDef("k", "string")))
    groups.foreach(g => t.insert(g.toDF("id", "k").coalesce(1)))
    t
  }

  private def ids(t: GraftTable): Seq[Long] =
    t.read().select("id").as[Long].collect().toSeq.sorted

  test("deleteByKeys: row count, one version per call, only the files holding a key") {
    val t = keyed(freshCatalog(), Seq(
      Seq((1L, "a"), (2L, "b"), (3L, null)),
      Seq((4L, "d"), (5L, "e"), (6L, null)),
      Seq((7L, "g"), (8L, "h"), (9L, "i"))))
    val Seq(fileA, fileB, fileC) = t.meta.activeFiles(t.currentVersion)

    // keys spread over two files, one repeated: two rows, one version
    val v0 = t.currentVersion
    val st = t.deleteByKeysStatus(Seq(2L, 5L, 5L).toDF("x"), "id")
    assert(st.version == v0 + 1 && t.currentVersion == v0 + 1)
    assert(st.numRows == 2L && st.numComputedValues == 0L)
    assert(t.meta.versions.last.op == "delete")
    assert(t.meta.versions.last.removed.toSet == Set(fileA, fileB))
    assert(ids(t) == Seq(1L, 3L, 4L, 6L, 7L, 8L, 9L))

    // a key held in only one file: only that file leaves the manifest
    val st2 = t.deleteByKeysStatus(Seq(8L).toDF("x"), "id")
    assert(st2.numRows == 1L && st2.version == v0 + 2)
    assert(t.meta.versions.last.removed == Seq(fileC))
    assert(t.meta.versions.last.added.nonEmpty)
    assert(!t.meta.activeFiles(t.currentVersion).contains(fileC))
    assert(ids(t) == Seq(1L, 3L, 4L, 6L, 7L, 9L))

    // nothing matches: a no-op version, no file added or removed
    val before = t.meta.activeFiles(t.currentVersion)
    val st3 = t.deleteByKeysStatus(Seq(100L, 200L).toDF("x"), "id")
    assert(st3.numRows == 0L && st3.version == v0 + 3)
    assert(t.meta.versions.last.op == "delete")
    assert(t.meta.versions.last.added.isEmpty && t.meta.versions.last.removed.isEmpty)
    assert(t.meta.activeFiles(t.currentVersion) == before)

    // null keys match nothing, not even rows whose key is null
    val st4 = t.deleteByKeysStatus(Seq(None, Some("d")).toDF("x"), "k")
    assert(st4.numRows == 1L && st4.version == v0 + 4)
    assert(ids(t) == Seq(1L, 3L, 6L, 7L, 9L))
    assert(t.deleteByKeysStatus(Seq(None: Option[String]).toDF("x"), "k").numRows == 0L)
    assert(ids(t) == Seq(1L, 3L, 6L, 7L, 9L))

    // history keeps every deleted row
    assert(t.read(Some(v0)).count() == 9L)
    intercept[IllegalArgumentException](
      t.deleteByKeys(Seq((1L, 2L)).toDF("a", "b"), "id"))
  }

  test("deleteByKeysStatus reports a pending cache working-set warning") {
    import graft.multimodal.FileCache
    val cacheDir = java.nio.file.Files.createTempDirectory("graft-dml-warn").toString
    val fc = FileCache.forDir(cacheDir)
    fc.setCapacity(5000)
    fc.setLeaseSeconds(0)
    def tmpFile() = {
      val p = java.nio.file.Files.createTempFile(fc.dir, ".fetch", ".bin")
      java.nio.file.Files.write(p, Array.fill[Byte](4096)(1))
      p
    }
    val t = keyed(freshCatalog(), Seq(Seq((1L, "a"), (2L, "b"))))
    FileCache.drainEvictionWarnings()
    // a, then b (evicts a), then a again: a working-set re-download
    fc.add(FileCache.AnonTableId, 0, "http://dml/a", tmpFile())
    fc.add(FileCache.AnonTableId, 0, "http://dml/b", tmpFile())
    assert(fc.lookup("http://dml/a").isEmpty)
    fc.add(FileCache.AnonTableId, 0, "http://dml/a", tmpFile())
    val st = t.deleteByKeysStatus(Seq(1L).toDF("x"), "id")
    assert(st.numRows == 1L)
    assert(st.cacheWarnings.exists(_.contains("downloaded multiple times")),
      s"expected the working-set warning on the deleteByKeys status, got $st")
    // drained once: the next op reports none
    assert(t.deleteStatus("id = 2").cacheWarnings.isEmpty)
  }

  private def vec(i: Long): Seq[Double] = (0 until 8).map(d => math.sin(i * 7.0 + d))

  private def docs(r: Range): DataFrame =
    r.map(i => (i.toLong, s"text $i ${i % 5}", vec(i)))
      .toDF("id", "text", "emb").coalesce(1)

  /** a PK table with stored computed columns and an HNSW index, one file
    * per insert
    */
  private def indexed(cat: Catalog): GraftTable = {
    val t = GraftTable.create(spark, cat, "budget", Seq(
      ColumnDef("id", "bigint"), ColumnDef("text", "string"),
      ColumnDef("emb", "array<double>"),
      ColumnDef("n_chars", "int", Some("length(text)")),
      ColumnDef("bucket", "bigint", Some("id % 7"))),
      primaryKey = Seq("id"))
    t.insert(docs(0 until 100))
    t.createHnswIndex("e", "emb", "id", shards = 2)
    (1 until 5).foreach(i => t.insert(docs(i * 100 until i * 100 + 100)))
    t
  }

  test("update, delete, batchUpdate and deleteByKeys stay within their job budgets") {
    val t = indexed(freshCatalog())
    def jobs(body: => Any): Int = TestSpark.jobsDuring(body).size
    // warm each op once; each budget is the op's measured count, so any
    // added job fails here
    t.update(Map("text" -> "concat(text, '!')"), "id = 1")
    t.delete("id = 2")
    t.batchUpdate(Seq((3L, "x")).toDF("id", "text"), Seq("id"))
    t.deleteByKeys(Seq(4L).toDF("x"), "id")
    val update = jobs(t.update(Map("text" -> "concat(text, '?')"), "id % 50 = 7"))
    val delete = jobs(t.delete("id % 97 = 5"))
    val batch = jobs(t.batchUpdate(Seq((11L, "y"), (311L, "z")).toDF("id", "text"), Seq("id")))
    val byKeys = jobs(t.deleteByKeys(Seq(12L, 412L).toDF("x"), "id"))
    assert(update <= 3, s"update ran $update jobs")
    assert(delete <= 2, s"delete ran $delete jobs")
    assert(batch <= 5, s"batchUpdate ran $batch jobs")
    assert(byKeys <= 2, s"deleteByKeys ran $byKeys jobs")
    val got = t.read().where("id in (7, 11, 12, 102, 311)")
      .select("id", "text", "n_chars").as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((7L, "text 7 2?", 9), (11L, "y", 1), (311L, "z", 1)))
  }

  test("searchIndex and the two view syncs stay within their job budgets") {
    val cat = freshCatalog()
    val t = indexed(cat)
    val iter = "split(text, ' ')"
    val mvWhere = Some("bucket < 4")
    val mvSelect = Seq("id" -> "id", "n_chars" -> "n_chars")
    val tokens = Views.createComponentView(spark, cat, "budget_tokens", t, iter,
      "token", "string", Seq(ColumnDef("id", "bigint")))
    val mv = Views.createMaterializedView(spark, cat, "budget_mv", t, mvWhere, mvSelect)
    def jobs(body: => Any): Int = TestSpark.jobsDuring(body).size
    def syncViews(): Unit = {
      Views.syncComponentView(tokens, t, iter, "token", Seq("id"))
      Views.syncMaterializedView(mv, t, mvWhere, mvSelect)
    }
    val q = vec(4242L)
    t.searchIndex("e", q, 10).collect()
    // a window that closes rows (update, delete) and opens some (insert)
    t.update(Map("text" -> "concat(text, '!')"), "id % 50 = 1")
    t.delete("id % 97 = 2")
    t.insert(docs(500 until 520))
    syncViews()
    t.update(Map("text" -> "concat(text, '?')"), "id % 50 = 7")
    t.delete("id % 97 = 5")
    t.insert(docs(520 until 540))
    val sync = jobs(syncViews())
    var hits = Seq.empty[Long]
    val search = jobs { hits = t.searchIndex("e", q, 10).select("vec_id").as[Long].collect().toSeq }
    // per view: the closed-key collect, the delete's probe and rewrite, the insert
    assert(sync <= 8, s"the two view syncs ran $sync jobs")
    // best shard, its seed scores, the pruned shard search, the live
    // re-rank; the returned frame is local, so the action runs none
    assert(search <= 4, s"searchIndex and its action ran $search jobs")
    assert(hits.length == 10)
    val live = t.read().select("id", "text", "bucket").as[(Long, String, Long)].collect()
    assert(tokens.read().count() == live.map(_._2.split(" ").length.toLong).sum)
    assert(mv.read().select("id").as[Long].collect().sorted.toSeq ==
      live.filter(_._3 < 4).map(_._1).sorted.toSeq)
  }

  test("a distributed key frame deletes without a key distinct") {
    val t = keyed(freshCatalog(), Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c"), (4L, "d"))))
    // int keys against a bigint column stay distributed (an IN subquery)
    val st = t.deleteByKeysStatus(Seq(2, 3, 3, 9).toDF("x"), "id")
    assert(st.numRows == 2L)
    assert(ids(t) == Seq(1L, 4L))
    // past the inline ceiling: distributed as well
    val many = spark.range(0L, GraftTable.MaxInlineKeys + 10L).toDF("x")
    assert(t.deleteByKeysStatus(many, "id").numRows == 2L)
    assert(ids(t).isEmpty)
  }

  test("inlineKeys hands the driver one capped key set, whatever the partitions") {
    val t = keyed(freshCatalog(), Seq(Seq((1L, "a"))))
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && e.taskMetrics != null) {
          tasks.incrementAndGet(); bytes.addAndGet(e.taskMetrics.resultSize)
        }
    }
    /** the keys, and the result tasks and bytes that reached the driver */
    def inline(keys: DataFrame): (Option[Set[Any]], Int, Long) = {
      tasks.set(0); bytes.set(0L)
      spark.sparkContext.addSparkListener(listener)
      try {
        val got = t.inlineKeys(keys, "id").map(_.toSet)
        // the listener bus is async: poll until the task count settles
        var last = -1
        var stable = 0
        var waited = 0
        while ((stable < 3 || last == 0) && waited < 15000) {
          Thread.sleep(100); waited += 100
          val cur = tasks.get()
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        (got, tasks.get(), bytes.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // 8 partitions of 2,000 distinct keys: each is under the ceiling, all
    // of them over it; the driver gets one small answer, not 16,000 keys
    val (over, overTasks, overBytes) = inline(spark.range(0L, 16000L, 1L, 8).toDF("x"))
    assert(over.isEmpty)
    assert(overTasks == 1 && overBytes < 4096,
      s"the driver received $overBytes bytes from $overTasks result tasks")
    // under the ceiling: one set of the distinct non-null keys
    val (under, underTasks, _) = inline(spark.range(0L, 400L, 1L, 8)
      .select(when($"id" < 390L, $"id" % 300L).as("x")))
    assert(under.contains((0L until 300L).toSet[Any]))
    assert(underTasks == 1)
  }

  test("a rewrite writes one file per maxPartitionBytes of touched input") {
    val t = indexed(freshCatalog())
    def last = t.meta.versions.last
    // a delete touching 2 of the 5 small files: one file out, not one per file
    t.delete("id in (6, 350)")
    assert(last.removed.size == 2 && last.added.size == 1)
    assert(t.meta.activeFiles(t.currentVersion).size == 4)
    // an update touching 3 files: its closed rows write one file; its
    // reopened rows recompute `n_chars` in the write's stage, so they keep
    // their 3 partitions (up to one per core; TestSpark runs 4)
    t.update(Map("text" -> "'u'"), "id in (5, 150, 250)")
    assert(last.removed.size == 3)
    assert(last.added.size == 4, s"update wrote ${last.added}")
    // touched input over the split size: more than one file
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try t.delete("id % 100 = 7")
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(last.added.size > 1)
    assert(t.read().where("text = 'u'").count() == 3L)
    assert(t.read().count() == 493L)
  }

  /** files read by each scan of the table rewrite (a write into a
    * `data/v<N>-<op>-` directory) run while `body` ran
    */
  private def rewriteScanFiles(op: String)(body: => Any): Seq[Long] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan match {
          case w: DataWritingCommandExec => w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.getName.matches(s"v[0-9]+-$op-.*") =>
              foreach(w) {
                case s: DataSourceScanExec =>
                  s.metrics.get("numFiles").foreach(m => seen.add(m.value))
                case _ =>
              }
              writes.incrementAndGet()
            case _ =>
          }
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 15000
      while (writes.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.get() == 1, s"expected one $op rewrite, saw ${writes.get()}")
    seen.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
  }

  test("the rewrites of delete and update read only the touched files") {
    val t = indexed(freshCatalog())
    assert(t.meta.activeFiles(t.currentVersion).size == 5)
    val del = rewriteScanFiles("delete")(t.delete("id = 250"))
    assert(del.nonEmpty && del.forall(_ == 1L), s"delete's rewrite read $del files")
    assert(t.meta.versions.last.removed.size == 1)
    val upd = rewriteScanFiles("update")(
      t.update(Map("text" -> "'u'"), "id in (120, 130)"))
    assert(upd.nonEmpty && upd.forall(_ == 1L), s"update's rewrite read $upd files")
    assert(t.read().where("text = 'u'").count() == 2L)
    assert(t.read().count() == 499L)
  }

  private val cols = Seq(ColumnDef("id", "bigint"), ColumnDef("text", "string"))

  test("creating a materialized view over a base with a delete mints no delete version") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "mvbase", cols)
    t.insert(Seq((1L, "a b c"), (2L, "d")).toDF("id", "text"))
    t.delete("id = 2")
    t.insert(Seq((3L, "e f g")).toDF("id", "text"))
    val mv = Views.createMaterializedView(spark, cat, "mvlong", t,
      Some("length(text) >= 3"), Seq(("id", "id"), ("text", "text")))
    assert(mv.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(!mv.meta.versions.exists(_.op == "delete"), mv.meta.versions.map(_.op))
  }

  test("a healed component view mints only the heal's delete version") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "healbase", cols)
    val iter = "split(text, '\\\\s+')"
    t.insert(Seq((1L, "a b"), (2L, "c")).toDF("id", "text"))
    t.delete("id = 2")
    val vKeep = t.currentVersion
    t.insert(Seq((3L, "d e")).toDF("id", "text"))
    val view = Views.createComponentView(spark, cat, "healtok", t, iter, "token",
      "string", Seq(ColumnDef("id", "bigint")))
    assert(view.read().count() == 4L)
    t.revert(vKeep)
    val deletesBefore = view.meta.versions.count(_.op == "delete")
    val st = Views.syncComponentViewStatus(view, t, iter, "token", Seq("id"))
    assert(view.meta.versions.count(_.op == "delete") == deletesBefore + 1,
      view.meta.versions.map(_.op))
    assert(st.rowsDeleted == 0L && st.rowsInserted == 2L, s"$st")
    assert(view.read().select("token").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }
}
