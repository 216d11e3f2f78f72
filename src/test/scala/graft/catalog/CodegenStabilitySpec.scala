package graft.catalog

import graft.TestSpark
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Every table op compiles its generated code once per JVM: no version,
  * row-id base, sync mark, shard id or threshold is inlined into the
  * generated Java. Two tables of one shape — the second a few versions and
  * row ids ahead — take the same op mix with identical user arguments;
  * each op on the second table, run right after its twin on the first,
  * must compile 0 classes. The session keeps Spark's default codegen cache.
  */
class CodegenStabilitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val iter = "split(text, ' ')"
  private val mvWhere = Some("score >= 0.5")
  private val mvSelect = Seq("doc_id" -> "doc_id", "n_tokens" -> "n_tokens")

  private def vec(i: Long): Seq[Double] = (0 until 8).map(d => math.sin(i * 3.0 + d))

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"c${i % 3}", s"w${i % 7} w${i % 5} w$i", (i % 10) / 10.0,
      vec(i))).toDF("doc_id", "category", "text", "score", "vec")

  private final case class Setup(t: GraftTable, tokens: GraftTable, mv: GraftTable)

  /** a PK table with two stored computed columns, an HNSW index, a
    * component view and a materialized view; `ahead` extra versions
    */
  private def setup(cat: Catalog, name: String, ahead: Int): Setup = {
    val t = GraftTable.create(spark, cat, name, Seq(
      ColumnDef("doc_id", "bigint"), ColumnDef("category", "string"),
      ColumnDef("text", "string"), ColumnDef("score", "double"),
      ColumnDef("vec", "array<double>"),
      ColumnDef("n_tokens", "int", Some("size(split(text, ' '))")),
      ColumnDef("score_band", "int", Some("cast(floor(score * 10) as int)"))),
      primaryKey = Seq("doc_id"))
    t.insert(docs(0 until 300))
    (0 until ahead).foreach { i =>
      t.insert(docs(10000 + i * 10 until 10000 + i * 10 + 10))
      t.delete(s"doc_id >= ${10000 + i * 10}")
    }
    t.createHnswIndex("vec_idx", "vec", "doc_id", shards = 2)
    val tokens = Views.createComponentView(spark, cat, s"${name}_tokens", t, iter,
      "token", "string", Seq(ColumnDef("doc_id", "bigint")))
    val mv = Views.createMaterializedView(spark, cat, s"${name}_hi", t, mvWhere, mvSelect)
    Setup(t, tokens, mv)
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("each table op compiles nothing when its twin ran on a table of the same shape") {
    val cat = new Catalog(java.nio.file.Files.createTempDirectory("graft-codegen").toString)
    val a = setup(cat, "twin_a", ahead = 0)
    val b = setup(cat, "twin_b", ahead = 3)
    assert(a.t.currentVersion != b.t.currentVersion)
    assert(a.t.meta.nextRowId != b.t.meta.nextRowId)
    val query = vec(12345L)
    val mix: Seq[(String, Setup => Any)] = Seq(
      "insert" -> (s => s.t.insert(docs(1000 until 1100))),
      "update" -> (s => s.t.update(Map("score" -> "score * 0.5 + 0.25"), "doc_id % 7 = 3")),
      "batchUpdate" -> (s => s.t.batchUpdate(
        (20 until 40).map(i => (i.toLong, s"w$i w$i")).toDF("doc_id", "text"), Seq("doc_id"))),
      "delete" -> (s => s.t.delete("doc_id % 11 = 4")),
      "deleteByKeys" -> (s => s.t.deleteByKeys(Seq(5L, 6L, 1005L).toDF("k"), "doc_id")),
      "read" -> (s => s.t.read().filter($"score_band" >= 3).groupBy("category").count().collect()),
      "timeTravel" -> (s => s.t.read(Some(s.t.currentVersion - 2)).agg(
        org.apache.spark.sql.functions.sum("n_tokens")).collect()),
      "syncComponentView" -> (s => Views.syncComponentView(s.tokens, s.t, iter, "token",
        Seq("doc_id"))),
      "syncMaterializedView" -> (s => Views.syncMaterializedView(s.mv, s.t, mvWhere, mvSelect)),
      "searchIndex" -> (s => s.t.searchIndex("vec_idx", query, 10).collect()))
    val second = mix.map { case (op, run) =>
      run(a)
      val before = compiles()
      run(b)
      op -> (compiles() - before)
    }
    info(s"compiles on the second table: ${second.map { case (o, n) => s"$o=$n" }.mkString(" ")}" +
      s" (total ${second.map(_._2).sum})")
    assert(second.forall(_._2 == 0L), second)
    // both tables end in the same state
    def rows(t: GraftTable) = t.read().select("doc_id", "text", "score", "n_tokens")
      .as[(Long, String, Double, Int)].collect().sortBy(_._1).toSeq
    assert(rows(a.t) == rows(b.t))
    assert(a.tokens.read().count() == b.tokens.read().count())
    assert(a.mv.read().count() == b.mv.read().count())
  }
}
