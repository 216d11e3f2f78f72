package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraftTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog() =
    new Catalog(java.nio.file.Files.createTempDirectory("graft-wh").toString)

  private val cols = Seq(
    ColumnDef("id", "bigint"),
    ColumnDef("name", "string"),
    ColumnDef("score", "double"),
    ColumnDef("score2", "double", computedExpr = Some("score * 2")),
    ColumnDef("score4", "double", computedExpr = Some("score2 * 2")), // depends on computed
    ColumnDef("label", "string", computedExpr = Some("upper(name)"), stored = false),
  )

  test("insert, computed columns, read") {
    val t = GraftTable.create(spark, freshCatalog(), "t1", cols)
    t.insert(Seq((1L, "a", 1.5), (2L, "b", 2.0)).toDF("id", "name", "score"))
    val rows = t.read().orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("score2") == 3.0)
    assert(rows(0).getAs[Double]("score4") == 6.0) // dependency-ordered
    assert(rows(0).getAs[String]("label") == "A")  // unstored, inlined at read
    // unstored column must not be materialized
    val stored = t.readWithSystem()
    assert(!stored.columns.contains("label"))
  }

  test("mvcc time travel across inserts") {
    val t = GraftTable.create(spark, freshCatalog(), "t2", cols)
    val v1 = t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    val v2 = t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    assert(t.read(Some(v1)).count() == 1)
    assert(t.read(Some(v2)).count() == 2)
    assert(t.read().count() == 2)
  }

  test("delete closes rows but history remains") {
    val t = GraftTable.create(spark, freshCatalog(), "t3", cols)
    val v1 = t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    val v2 = t.delete("id = 1")
    assert(t.read().count() == 1)
    assert(t.read(Some(v1)).count() == 2) // time travel sees the deleted row
    assert(t.read(Some(v2)).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("update recomputes dependent computed columns and keeps rowid") {
    val t = GraftTable.create(spark, freshCatalog(), "t4", cols)
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    val before = t.readWithSystem().filter("id = 1")
      .select(GraftTable.RowId).as[Long].head()
    t.update(Map("score" -> "score + 10"), "id = 1")
    val row = t.read().filter("id = 1").head()
    assert(row.getAs[Double]("score") == 11.0)
    assert(row.getAs[Double]("score2") == 22.0) // cascade
    assert(row.getAs[Double]("score4") == 44.0) // transitive cascade
    val after = t.readWithSystem()
      .filter(col("id") === 1 && col(GraftTable.VMax) === GraftTable.Live)
      .select(GraftTable.RowId).as[Long].head()
    assert(before == after) // identity preserved across update
    assert(t.read().count() == 2)
  }

  test("revert truncates history") {
    val t = GraftTable.create(spark, freshCatalog(), "t5", cols)
    val v1 = t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    t.delete("id = 1")
    t.revert(v1)
    assert(t.currentVersion == v1)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("snapshots pin a version") {
    val t = GraftTable.create(spark, freshCatalog(), "t6", cols)
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    t.createSnapshot("s1")
    t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    assert(t.readSnapshot("s1").count() == 1)
    assert(t.read().count() == 2)
  }

  test("revert refuses when a named snapshot pins a later version") {
    val t = GraftTable.create(spark, freshCatalog(), "t5b", cols)
    val v1 = t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    t.createSnapshot("pinned")
    assertThrows[IllegalArgumentException](t.revert(v1))
    assert(t.read().count() == 2) // unchanged
  }

  test("schema is versioned: time travel before add_column, revert drops it") {
    val t = GraftTable.create(spark, freshCatalog(), "t5c",
      cols.filterNot(c => Set("score4", "label")(c.name)))
    val v1 = t.insert(Seq((1L, "a", 3.0)).toDF("id", "name", "score"))
    val v2 = t.addColumn(ColumnDef("bonus", "double", Some("score + 1")))
    // read at a version before the add_column must not see (or fail on) it
    assert(!t.read(Some(v1)).columns.contains("bonus"))
    assert(t.read(Some(v2)).columns.contains("bonus"))
    t.revert(v1)
    assert(!t.read().columns.contains("bonus")) // column gone with the revert
    // and the table still round-trips writes
    t.insert(Seq((2L, "b", 4.0)).toDF("id", "name", "score"))
    assert(t.read().count() == 2)
  }

  test("drop_column is metadata-only and time travel still sees it") {
    val t = GraftTable.create(spark, freshCatalog(), "t5d",
      cols.filterNot(c => Set("score2", "score4", "label")(c.name)))
    val v1 = t.insert(Seq((1L, "a", 3.0)).toDF("id", "name", "score"))
    val before = t.history().count()
    val v2 = t.dropColumn("score")
    assert(t.history().count() == before + 1) // one metadata version, no rewrite
    assert(!t.read().columns.contains("score"))
    assert(t.read(Some(v1)).columns.contains("score")) // pre-drop time travel
    t.insert(Seq((2L, "b")).toDF("id", "name")) // post-drop insert without the column
    assert(t.read().count() == 2)
    t.revert(v1)
    assert(t.read().columns.contains("score")) // drop undone by revert
  }

  test("drop_column refuses when computed columns depend on it") {
    val t = GraftTable.create(spark, freshCatalog(), "t5e", cols)
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    assertThrows[IllegalArgumentException](t.dropColumn("score")) // score2 depends
  }

  test("rename_column is metadata-only; reads, writes and updates follow") {
    val t = GraftTable.create(spark, freshCatalog(), "t5f",
      cols.filterNot(c => Set("score2", "score4", "label")(c.name)))
    t.insert(Seq((1L, "a", 3.0)).toDF("id", "name", "score"))
    t.renameColumn("score", "points")
    assert(t.read().columns.toSeq == Seq("id", "name", "points"))
    assert(t.read().filter("id = 1").head().getAs[Double]("points") == 3.0)
    // insert and update through the new name
    t.insert(Seq((2L, "b", 4.0)).toDF("id", "name", "points"))
    t.update(Map("points" -> "points + 10"), "id = 1")
    assert(t.read().filter("id = 1").head().getAs[Double]("points") == 13.0)
    assert(t.read().filter("id = 2").head().getAs[Double]("points") == 4.0)
    // a second rename chains (physical name stays the original)
    t.renameColumn("points", "pts")
    assert(t.read().filter("id = 1").head().getAs[Double]("pts") == 13.0)
  }

  test("cascade dependency detection parses, not regex-matches") {
    val t = GraftTable.create(spark, freshCatalog(), "t5g", Seq(
      ColumnDef("id", "bigint"),
      ColumnDef("score", "double"),
      // 'score' appears only inside a string literal: NOT a dependency
      ColumnDef("tag", "string", computedExpr = Some("concat('score', ' fixed')")),
      // backtick-quoted reference IS a dependency
      ColumnDef("dbl", "double", computedExpr = Some("`score` * 2")),
    ))
    t.insert(Seq((1L, 1.0)).toDF("id", "score"))
    t.update(Map("score" -> "score + 1"), "id = 1")
    val row = t.read().head()
    assert(row.getAs[Double]("dbl") == 4.0)        // recomputed via quoted ref
    assert(row.getAs[String]("tag") == "score fixed")
  }

  test("add computed column backfills existing rows") {
    val t = GraftTable.create(spark, freshCatalog(), "t7",
      cols.filterNot(c => Set("score4", "label")(c.name)))
    t.insert(Seq((1L, "a", 3.0)).toDF("id", "name", "score"))
    t.addColumn(ColumnDef("score10", "double", Some("score * 10")))
    assert(t.read().head().getAs[Double]("score10") == 30.0)
    // new inserts compute it too
    t.insert(Seq((2L, "b", 4.0)).toDF("id", "name", "score"))
    assert(t.read().filter("id = 2").head().getAs[Double]("score10") == 40.0)
  }

  test("batchUpdate applies keyed updates with cascade, leaves others") {
    val t = GraftTable.create(spark, freshCatalog(), "t9", cols)
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "score"))
    val updates = Seq((1L, 10.0), (3L, 30.0)).toDF("id", "score")
    t.batchUpdate(updates, Seq("id"))
    val rows = t.read().orderBy("id").collect()
    assert(rows.map(_.getAs[Double]("score")).toSeq == Seq(10.0, 2.0, 30.0))
    assert(rows.map(_.getAs[Double]("score4")).toSeq == Seq(40.0, 8.0, 120.0)) // cascade
    assert(rows.map(_.getAs[String]("name")).toSeq == Seq("a", "b", "c")) // untouched col
    assert(t.read(Some(1L)).filter("id = 1").head().getAs[Double]("score") == 1.0) // history
  }

  test("batchUpdate matches binary, -0.0 and NaN keys like the join does") {
    val t = GraftTable.create(spark, freshCatalog(), "t9b", Seq(
      ColumnDef("k", "binary"), ColumnDef("d", "double"), ColumnDef("v", "bigint")))
    t.insert(Seq((Array[Byte](1, 2), 0.0, 1L), (Array[Byte](3), 1.5, 2L),
      (Array[Byte](4), Double.NaN, 3L)).toDF("k", "d", "v"))
    t.batchUpdate(Seq((Array[Byte](1, 2), 10L), (Array[Byte](3), 20L)).toDF("k", "v"),
      Seq("k"))
    t.batchUpdate(Seq((-0.0, 30L), (Double.NaN, 40L)).toDF("d", "v"), Seq("d"))
    assert(t.read().orderBy("v").select("v").as[Long].collect().toSeq ==
      Seq(20L, 30L, 40L))
    // upsert: a key that matches by content is updated, not inserted again
    t.batchUpdate(Seq((Array[Byte](3), 5.0, 40L)).toDF("k", "d", "v"), Seq("k"),
      ifNotExists = "insert")
    assert(t.read().count() == 3)
  }

  test("delete rewrites only files containing matching rows") {
    val t = GraftTable.create(spark, freshCatalog(), "t10", cols)
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    val before = t.meta.activeFiles(t.currentVersion)
    val batch2Files = before.filter(_.contains("v2-insert")).toSet
    assert(batch2Files.nonEmpty)
    t.delete("id = 1") // only batch-1's file contains id=1
    val after = t.meta.activeFiles(t.currentVersion).toSet
    assert(batch2Files.subsetOf(after), "untouched batch-2 files were rewritten")
    assert(after.forall(f => !f.contains("v1-insert")), "touched file not removed")
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(2L))
    assert(t.read(Some(2L)).count() == 2) // history intact
  }

  test("delete with no matches is a no-op version") {
    val t = GraftTable.create(spark, freshCatalog(), "t11", cols)
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    val files = t.meta.activeFiles(t.currentVersion)
    t.delete("id = 999")
    assert(t.meta.activeFiles(t.currentVersion) == files)
    assert(t.read().count() == 1)
  }

  test("vacuum deletes orphans from revert, keeps reachable history") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "t12", cols)
    val v1 = t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    t.revert(v1)
    val removed = t.vacuum()
    assert(removed.nonEmpty, "expected orphaned v2 files to be deleted")
    assert(removed.forall(_.contains("v2-insert")))
    assert(t.read().count() == 1) // current state intact
    assert(t.vacuum().isEmpty)    // idempotent
    cat.dropTable("t12")
    assert(!cat.exists("t12"))
  }

  test("error paths: double create, missing open, forward revert, dup column") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "t13", cols)
    intercept[IllegalArgumentException] { GraftTable.create(spark, cat, "t13", cols) }
    intercept[IllegalArgumentException] { GraftTable.open(spark, cat, "no_such") }
    intercept[IllegalArgumentException] { t.revert(99L) }
    intercept[IllegalArgumentException] { t.addColumn(ColumnDef("id", "bigint")) }
    intercept[IllegalArgumentException] { t.readSnapshot("nope") }
    // cyclic computed columns rejected at use
    val bad = GraftTable.create(spark, cat, "t14", Seq(
      ColumnDef("a", "double", Some("b * 2")),
      ColumnDef("b", "double", Some("a * 2"))))
    intercept[IllegalArgumentException] {
      bad.insert(Seq(Tuple1(1.0)).toDF("x"))
    }
  }

  test("mvcc filter pushes down to parquet scan") {
    val t = GraftTable.create(spark, freshCatalog(), "t8", cols)
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    val plan = t.read().queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains(GraftTable.VMin), s"no pushdown in:\n$plan")
  }

  test("compact merges the active file set without changing any version's rows") {
    val t = GraftTable.create(spark, freshCatalog(), "t9", cols)
    val v1 = t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    t.insert(Seq((3L, "c", 3.0)).toDF("id", "name", "score"))
    t.insert(Seq((4L, "d", 4.0)).toDF("id", "name", "score"))
    val vDel = t.delete("id = 2")
    def snapshot(v: Long) = t.read(Some(v)).orderBy("id").collect().map(_.toString).toSeq
    val beforeCur = snapshot(vDel)
    val beforeV1 = snapshot(v1)
    val filesBefore = t.meta.activeFiles(t.meta.currentVersion).size
    assert(filesBefore >= 3)
    val vc = t.compact(targetFiles = 1)
    assert(t.meta.activeFiles(vc).size == 1, "not compacted to one file")
    // current rows and pre-compact time travel are unchanged
    assert(t.read().orderBy("id").collect().map(_.toString).toSeq == beforeCur)
    assert(snapshot(vDel) == beforeCur)
    assert(snapshot(v1) == beforeV1)
    // closed history rows survived the rewrite (delete is still visible
    // as a closed row, not resurrected)
    assert(t.read().filter("id = 2").count() == 0)
    // compacting an already-compact table is a no-op version
    val vc2 = t.compact(targetFiles = 1)
    assert(t.meta.activeFiles(vc2).size == 1)
  }

  // port of the reference's tests/test_concurrent.py to the manifest CAS
  test("concurrent inserts from parallel threads serialize losslessly") {
    val t = GraftTable.create(spark, freshCatalog(), "conc1", Seq(
      ColumnDef("id", "bigint"), ColumnDef("w", "bigint"),
      ColumnDef("w2", "bigint", computedExpr = Some("w * 2"))))
    val threads = 6
    val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { th =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (0 until perThread).map { i =>
            t.insert(Seq((th * 100L + i, th.toLong)).toDF("id", "w"))
          }
        })
      }
      val versions = futures.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // every commit won a distinct, gap-free version: nothing clobbered
      assert(versions.toSet.size == threads * perThread)
      assert(versions.sorted == (1L to (threads * perThread)).toSeq)
    } finally pool.shutdownNow()
    // no rows lost, no rowid reused, computed column evaluated everywhere
    val rows = t.read().collect()
    assert(rows.length == threads * perThread)
    assert(t.read().select("id").distinct().count() == threads * perThread)
    assert(t.readWithSystem().select(GraftTable.RowId).distinct().count()
      == threads * perThread)
    assert(rows.forall(r => r.getAs[Long]("w2") == r.getAs[Long]("w") * 2))
  }

  test("computed columns evaluate registered Scala UDFs (provider-style)") {
    // the reference's UDF-backed computed columns (@pxt.udf in a computed
    // column): computedExpr is a SQL expression, so any registered UDF —
    // including ones wrapping remote/tool calls — participates in insert
    // evaluation, cascade and backfill
    spark.udf.register("graft_test_sig",
      (s: String) => if (s == null) null else s"${s.length}:${s.toUpperCase}")
    val t = GraftTable.create(spark, freshCatalog(), "udfcol", Seq(
      ColumnDef("id", "bigint"), ColumnDef("txt", "string"),
      ColumnDef("sig", "string", computedExpr = Some("graft_test_sig(txt)")),
      ColumnDef("sig_len", "int",
        computedExpr = Some("cast(split(sig, ':')[0] as int)"))))
    t.insert(Seq((1L, "abc"), (2L, "hello")).toDF("id", "txt"))
    val rows = t.read().orderBy("id").collect()
    assert(rows.map(_.getAs[String]("sig")).toSeq == Seq("3:ABC", "5:HELLO"))
    assert(rows.map(_.getAs[Int]("sig_len")).toSeq == Seq(3, 5)) // cascade
    t.update(Map("txt" -> "'replaced'"), "id = 1")
    val r1 = t.read().filter("id = 1").head()
    assert(r1.getAs[String]("sig") == "8:REPLACED" && r1.getAs[Int]("sig_len") == 8)
  }

  test("out-of-band CAS conflict replays the mutation once, losslessly") {
    // the writer lock hides the replay path from in-process races; inject
    // a conflicting commit inside the race window via the test seam — the
    // shape of a writer on another machine whose file locks don't reach us
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "oob", Seq(
      ColumnDef("id", "bigint"), ColumnDef("w", "bigint")))
    t.insert(Seq((1L, 10L)).toDF("id", "w"))
    var fired = false
    t.onBeforeCommit = () => {
      if (!fired) {
        fired = true // conflict exactly once: replay must then succeed
        val m = cat.load("oob")
        cat.save(m.copy(commitSeq = m.commitSeq + 1))
      }
    }
    val v = t.insert(Seq((2L, 20L)).toDF("id", "w"))
    t.onBeforeCommit = () => ()
    assert(fired)
    // replay re-read fresh meta: exactly one new version, no duplicate rows
    assert(v == t.currentVersion)
    assert(t.read().count() == 2)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the losing attempt's data directory was cleaned up: every dir under
    // data/ is referenced by the manifest
    val referenced = cat.load("oob").versions.flatMap(_.added)
      .map(f => new java.io.File(f).getParentFile.getName).toSet
    val onDisk = new java.io.File(s"${cat.warehouse}/oob/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(onDisk == referenced, s"orphan dirs left: ${onDisk -- referenced}")
  }

  test("concurrent mixed DML (insert + delete) serializes") {
    val t = GraftTable.create(spark, freshCatalog(), "conc2", Seq(
      ColumnDef("id", "bigint")))
    t.insert((0L until 20L).map(Tuple1(_)).toDF("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val ins = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = t.insert((100L until 110L).map(Tuple1(_)).toDF("id"))
      })
      val del = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = t.delete("id < 5")
      })
      val vi = ins.get(120, java.util.concurrent.TimeUnit.SECONDS)
      val vd = del.get(120, java.util.concurrent.TimeUnit.SECONDS)
      assert(Set(vi, vd) == Set(2L, 3L), s"versions $vi/$vd not consecutive")
    } finally pool.shutdownNow()
    assert(t.read().count() == 25) // 20 - 5 deleted + 10 inserted
  }

  test("conflicting concurrent schema changes: one wins, one raises cleanly") {
    val t = GraftTable.create(spark, freshCatalog(), "conc3", Seq(
      ColumnDef("id", "bigint")))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] = {
            barrier.await()
            try { t.addColumn(ColumnDef("extra", "string")); None }
            catch { case e: Throwable => Some(e) }
          }
        })
      }
      val outcomes = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // exactly one adds the column; the loser replays against the winner's
      // meta and hits the duplicate-column validation, not a corrupt log
      assert(outcomes.count(_.isEmpty) == 1, s"outcomes: $outcomes")
      val err = outcomes.flatten.head
      assert(err.isInstanceOf[IllegalArgumentException] &&
        err.getMessage.contains("exists"), s"unexpected error: $err")
    } finally pool.shutdownNow()
    assert(t.meta.liveColumns.count(_.name == "extra") == 1)
  }

  test("recomputeColumns re-runs a changed UDF, respects where/cascade, versions") {
    // the recompute use case: a UDF's behavior changed AFTER values were
    // materialized — cascades never re-run the column itself
    spark.udf.register("rc_f", (x: Double) => x * 2)
    val t = GraftTable.create(spark, freshCatalog(), "rc", Seq(
      ColumnDef("id", "bigint"),
      ColumnDef("v", "double"),
      ColumnDef("d", "double", computedExpr = Some("rc_f(v)")),
      ColumnDef("e", "double", computedExpr = Some("d + 1"))))
    t.insert(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    val vOld = t.meta.currentVersion
    assert(t.read().orderBy("id").select("d").as[Double].collect().toSeq ==
      Seq(2.0, 4.0, 6.0))
    spark.udf.register("rc_f", (x: Double) => x * 10) // behavior change
    // where-restricted, cascading
    t.recomputeColumns(Seq("d"), whereSql = Some("id <= 2"))
    val rows = t.read().orderBy("id").select("d", "e")
      .as[(Double, Double)].collect().toSeq
    assert(rows == Seq((10.0, 11.0), (20.0, 21.0), (6.0, 7.0)))
    // time travel sees pre-recompute values
    assert(t.read(Some(vOld)).orderBy("id").select("d").as[Double]
      .collect().toSeq == Seq(2.0, 4.0, 6.0))
    // cascade=false leaves the dependent stale
    spark.udf.register("rc_f", (x: Double) => x * 100)
    t.recomputeColumns(Seq("d"), whereSql = Some("id = 3"), cascade = false)
    val r3 = t.read().filter(col("id") === 3).select("d", "e")
      .as[(Double, Double)].head()
    assert(r3 == ((300.0, 7.0)))
    // validation: non-computed and unstored columns are rejected
    intercept[IllegalArgumentException](t.recomputeColumns(Seq("v")))
    intercept[IllegalArgumentException](t.recomputeColumns(Seq("missing")))
  }

  test("compute() materializes computed columns without persisting") {
    val t = GraftTable.create(spark, freshCatalog(), "dryrun", cols)
    val out = t.compute(Seq((9L, "zed", 5.0)).toDF("id", "name", "score"))
      .collect().head
    assert(out.getAs[Double]("score2") == 10.0)
    assert(out.getAs[Double]("score4") == 20.0)
    assert(out.getAs[String]("label") == "ZED") // unstored evaluates too
    assert(t.read().count() == 0)               // nothing persisted
    assert(t.meta.currentVersion == 0L)         // no version minted
  }
}
