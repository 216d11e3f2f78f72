package graft.catalog

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class ViewsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog() =
    new Catalog(java.nio.file.Files.createTempDirectory("graft-wh").toString)

  private val cols = Seq(ColumnDef("id", "bigint"), ColumnDef("text", "string"))

  test("logical view filters and projects") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs", cols)
    t.insert(Seq((1L, "hello world"), (2L, "spark")).toDF("id", "text"))
    val v = Views.logicalView(t, Some("id = 1"),
      Seq("id" -> "id", "upper_text" -> "upper(text)"))
    val rows = v.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("upper_text") == "HELLO WORLD")
  }

  test("component view expands one-to-many with (base_rowid, pos) key") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs2", cols)
    t.insert(Seq((1L, "a b c"), (2L, "x y")).toDF("id", "text"))
    val view = Views.createComponentView(spark, cat, "tokens", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    val rows = view.read().orderBy("id", Views.Pos).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[String]("token")).toSeq == Seq("a", "b", "c", "x", "y"))
    assert(rows.map(_.getAs[Int](Views.Pos)).toSeq == Seq(0, 1, 2, 0, 1))
  }

  test("sync statuses report cascade counts (reference cascade_row_count_stats)") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs_ss", cols)
    t.insert(Seq((1L, "a b"), (2L, "x y z")).toDF("id", "text"))
    val view = Views.createComponentView(spark, cat, "tok_ss", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    // no base change → zero-count no-op
    val s0 = Views.syncComponentViewStatus(view, t,
      "split(text, '\\\\s+')", "token", Seq("id"))
    assert(s0.rowsDeleted == 0 && s0.rowsInserted == 0)
    // update re-expands: 2 old tokens deleted, 4 new inserted
    t.update(Map("text" -> "'p q r s'"), "id = 1")
    val s1 = Views.syncComponentViewStatus(view, t,
      "split(text, '\\\\s+')", "token", Seq("id"))
    assert(s1.rowsDeleted == 2 && s1.rowsInserted == 4, s1)
    // delete cascades: 3 expansions drop, nothing inserted
    t.delete("id = 2")
    val s2 = Views.syncComponentViewStatus(view, t,
      "split(text, '\\\\s+')", "token", Seq("id"))
    assert(s2.rowsDeleted == 3 && s2.rowsInserted == 0, s2)
    assert(view.read().count() == 4)
    // materialized view: same contract
    val t2 = GraftTable.create(spark, cat, "docs_ss2", cols)
    t2.insert(Seq((1L, "short"), (2L, "long enough text")).toDF("id", "text"))
    val mv = Views.createMaterializedView(spark, cat, "mv_ss", t2,
      Some("length(text) > 10"), Seq("id" -> "id", "up" -> "upper(text)"))
    t2.insert(Seq((3L, "also long enough")).toDF("id", "text"))
    t2.delete("id = 2")
    val ms = Views.syncMaterializedViewStatus(mv, t2,
      Some("length(text) > 10"), Seq("id" -> "id", "up" -> "upper(text)"))
    assert(ms.rowsDeleted == 1 && ms.rowsInserted == 1, ms)
    assert(mv.read().select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("sync propagates base updates and deletes into the view") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs4", cols)
    t.insert(Seq((1L, "a b"), (2L, "x y z")).toDF("id", "text"))
    val view = Views.createComponentView(spark, cat, "tokens4", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    assert(view.read().count() == 5)
    // update: re-expansion replaces old tokens
    t.update(Map("text" -> "'p q r s'"), "id = 1")
    Views.syncComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    val tokens1 = view.read().filter("id = 1")
      .orderBy(Views.Pos).select("token").as[String].collect().toSeq
    assert(tokens1 == Seq("p", "q", "r", "s"))
    assert(view.read().count() == 7)
    // delete: expansions disappear
    t.delete("id = 2")
    Views.syncComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    assert(view.read().filter("id = 2").count() == 0)
    assert(view.read().count() == 4)
  }

  test("sync treats an unknown op as closing and opening rows") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs_unk", cols)
    t.insert(Seq((1L, "a b"), (2L, "x y z")).toDF("id", "text"))
    val view = Views.createComponentView(spark, cat, "tokens_unk", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    t.delete("id = 2")
    // relabel the delete as an op the guards do not know; its added files
    // still close rows
    val m = t.meta
    val last = m.versions.last
    assert(last.op == "delete" && last.added.nonEmpty)
    assert(cat.commit(m.commitSeq,
      m.copy(versions = m.versions.init :+ last.copy(op = "future_op"))))
    Views.syncComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    assert(view.read().filter("id = 2").count() == 0)
    assert(view.read().count() == 2)
  }

  test("materialized predicate view syncs inserts, updates, deletes") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs5", Seq(
      ColumnDef("id", "bigint"), ColumnDef("text", "string"),
      ColumnDef("n", "bigint", Some("length(text)"))))
    t.insert(Seq((1L, "short"), (2L, "a much longer text here")).toDF("id", "text"))
    val mv = Views.createMaterializedView(spark, cat, "long_docs", t,
      Some("n > 10"), Seq("id" -> "id", "shout" -> "upper(text)"))
    assert(mv.read().select("id").as[Long].collect().toSeq == Seq(2L))
    // insert propagates through the predicate
    t.insert(Seq((3L, "another sufficiently long document")).toDF("id", "text"))
    Views.syncMaterializedView(mv, t, Some("n > 10"), Seq("id" -> "id", "shout" -> "upper(text)"))
    assert(mv.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // update OUT of the predicate removes the row from the view
    t.update(Map("text" -> "'tiny'"), "id = 2")
    Views.syncMaterializedView(mv, t, Some("n > 10"), Seq("id" -> "id", "shout" -> "upper(text)"))
    assert(mv.read().select("id").as[Long].collect().toSeq == Seq(3L))
    // base delete propagates
    t.delete("id = 3")
    Views.syncMaterializedView(mv, t, Some("n > 10"), Seq("id" -> "id", "shout" -> "upper(text)"))
    assert(mv.read().count() == 0)
  }

  test("sync of a >100k-row base deletion is one distributed version") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs_big", cols)
    import org.apache.spark.sql.functions._
    t.insert(spark.range(120000).select(col("id"),
      concat(lit("w"), col("id") % 7).as("text")))
    val mv = Views.createMaterializedView(spark, cat, "mv_big", t,
      None, Seq("id" -> "id", "text" -> "text"))
    assert(mv.read().count() == 120000)
    val versionsBefore = mv.history().count()
    t.delete("id % 2 = 0") // closes 60k base rows
    Views.syncMaterializedView(mv, t, None, Seq("id" -> "id", "text" -> "text"))
    assert(mv.read().count() == 60000)
    // exactly 1 new view version: ONE distributed delete (the old
    // chunked-IN path minted one version per 10k rowids, and until r16 a
    // delete-only sync also minted an empty insert version — the version
    // log now proves the window has no fresh rows and skips that job)
    assert(mv.history().count() == versionsBefore + 1)
  }

  test("incremental refresh processes only new base rows") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "docs3", cols)
    t.insert(Seq((1L, "a b")).toDF("id", "text"))
    val view = Views.createComponentView(spark, cat, "tokens3", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    assert(view.read().count() == 2)
    t.insert(Seq((2L, "c d e")).toDF("id", "text"))
    Views.refreshComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    assert(view.read().count() == 5)
    // idempotent: nothing new → no growth
    Views.refreshComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    assert(view.read().count() == 5)
  }

  test("base revert self-heals the view: full rebuild, no orphan expansions") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "rvb", cols)
    t.insert(Seq((1L, "a b")).toDF("id", "text"))
    val v1 = t.currentVersion
    val view = Views.createComponentView(spark, cat, "rvtok", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    t.insert(Seq((2L, "c d e")).toDF("id", "text"))
    Views.refreshComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    assert(view.read().count() == 5)
    // revert the base BELOW the view's high-water mark: row 2 never existed
    t.revert(v1)
    Views.syncComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    val toks = view.read().select("token").as[String].collect().sorted.toSeq
    assert(toks == Seq("a", "b"), s"orphan expansions survived revert: $toks")
    // and incremental behavior resumes after the heal
    t.insert(Seq((3L, "x")).toDF("id", "text"))
    Views.refreshComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    assert(view.read().count() == 3)
  }

  test("revert LAPPED by new base writes still rebuilds (epoch beats version compare)") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "rvl", cols)
    t.insert(Seq((1L, "a b")).toDF("id", "text"))
    val v1 = t.currentVersion
    val view = Views.createComponentView(spark, cat, "rvltok", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    t.insert(Seq((2L, "c d")).toDF("id", "text"))
    Views.refreshComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    assert(view.read().count() == 4)
    // revert, then write ENOUGH new versions that currentVersion climbs back
    // past the view's lastSeen mark — the r5-ADVICE lapping scenario where
    // a version-only compare sees nothing wrong
    t.revert(v1)
    t.insert(Seq((3L, "x y z")).toDF("id", "text")) // reuses the rolled-back version number
    t.insert(Seq((4L, "q")).toDF("id", "text"))     // climbs past lastSeen
    Views.syncComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    val toks = view.read().select("token").as[String].collect().sorted.toSeq
    assert(toks == Seq("a", "b", "q", "x", "y", "z"),
      s"lapped revert left stale/missing expansions: $toks")
  }

  test("a view's own revert is not blocked by its lineage marks") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "rvp", cols)
    // drive the base version well above any view version, so the lineage
    // mark's VALUE (a base version) exceeds the view's own version numbers
    (1 to 5).foreach(i => t.insert(Seq((i.toLong, s"w$i")).toDF("id", "text")))
    val view = Views.createComponentView(spark, cat, "rvptok", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    val vv = view.currentVersion
    t.insert(Seq((6L, "a b")).toDF("id", "text"))
    Views.refreshComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    // lastSeen mark now holds base version 6 > any view version; a pin
    // check that counted lineage marks as snapshots would refuse this
    view.revert(vv)
    assert(view.currentVersion == vv)
  }

  test("dropTable refuses with dependent views; force cascades") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "dtb", cols)
    t.insert(Seq((1L, "a")).toDF("id", "text"))
    Views.createComponentView(spark, cat, "dtv", t,
      "split(text, '\\\\s+')", "token", "string", Seq.empty)
    val e = intercept[IllegalArgumentException](cat.dropTable("dtb"))
    assert(e.getMessage.contains("dtv"))
    cat.dropTable("dtb", force = true)
    assert(!cat.exists("dtb") && !cat.exists("dtv"))
    intercept[IllegalArgumentException](cat.dropTable("dtb", ifNotExists = "error"))
    cat.dropTable("dtb") // default ignore: no-op
  }

  test("listViews finds views of a base; baseOf reads lineage; plain tables have neither") {
    val cat = freshCatalog()
    val t = GraftTable.create(spark, cat, "base1", cols)
    t.insert(Seq((1L, "a b")).toDF("id", "text"))
    val other = GraftTable.create(spark, cat, "plain1", cols)
    val v1 = Views.createComponentView(spark, cat, "view1", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    assert(Views.listViews(cat, t) == Seq("view1"))
    assert(Views.listViews(cat, other).isEmpty)
    assert(Views.baseOf(cat, v1).contains("base1"))
    assert(Views.baseOf(cat, other).isEmpty)
  }
}
