package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The write path's Spark-job budget and the schema the version log carries:
  * every write logs the schema of the files it adds, and reads declare the
  * merge of those schemas instead of inferring it from the files. Reads
  * must come out exactly as a `mergeSchema` read of the same files did —
  * across schema evolution, for metas logged before the field existed, and
  * down to type conflicts still failing.
  */
class CommitSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog() =
    new Catalog(java.nio.file.Files.createTempDirectory("graft-schema").toString)

  private def vec(i: Long): Seq[Double] = (0 until 8).map(d => math.sin(i * 7.0 + d))

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"text $i ${i % 5}", vec(i))).toDF("id", "text", "emb")

  test("an insert into a PK table with computed columns and an HNSW index runs at most 4 jobs") {
    val t = GraftTable.create(spark, freshCatalog(), "budget", Seq(
      ColumnDef("id", "bigint"), ColumnDef("text", "string"),
      ColumnDef("emb", "array<double>"),
      ColumnDef("n_chars", "int", Some("length(text)")),
      ColumnDef("bucket", "bigint", Some("id % 7"))),
      primaryKey = Seq("id"))
    t.insert(docs(0L until 500L))
    t.createHnswIndex("e", "emb", "id", shards = 2)
    t.insert(docs(500L until 600L)) // warm
    assert(TestSpark.jobsDuring(t.read()).isEmpty, "building read() ran a job")
    val jobs = TestSpark.jobsDuring(t.insert(docs(600L until 700L)))
    assert(jobs.size <= 4, s"insert ran ${jobs.size} jobs")
    assert(t.meta.indexes.head.indexedThrough == t.currentVersion)
    assert(t.read().count() == 700L)
    assert(t.read().where("id = 650").select("n_chars", "bucket").as[(Int, Long)].head() ==
      ("text 650 0".length, 650L % 7))
  }

  test("an in-batch duplicate is reported before a live conflict") {
    val t = GraftTable.create(spark, freshCatalog(), "pk", Seq(
      ColumnDef("id", "bigint"), ColumnDef("v", "string")), primaryKey = Seq("id"))
    t.insert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val both = intercept[IllegalArgumentException](
      t.insert(Seq((2L, "x"), (9L, "y"), (9L, "z")).toDF("id", "v")))
    assert(both.getMessage == "Duplicate primary key in inserted rows: id=9", both.getMessage)
    val live = intercept[IllegalArgumentException](
      t.insert(Seq((3L, "x"), (2L, "y")).toDF("id", "v")))
    assert(live.getMessage == "Duplicate primary key: id=2", live.getMessage)
    // a null key part never equi-matches a live null
    val c = GraftTable.create(spark, freshCatalog(), "pk2", Seq(
      ColumnDef("a", "bigint"), ColumnDef("b", "string")), primaryKey = Seq("a", "b"))
    c.insert(Seq((1L, null: String)).toDF("a", "b"))
    c.insert(Seq((1L, null: String), (1L, "q")).toDF("a", "b"))
    assert(c.read().count() == 3L)
    assert(c.meta.currentVersion == 2L)
  }

  /** A table taken through add, drop and rename of columns, with files on
    * both sides of each change.
    */
  private def evolved(cat: Catalog): GraftTable = {
    val t = GraftTable.create(spark, cat, "evo", Seq(
      ColumnDef("id", "bigint"), ColumnDef("x", "double"), ColumnDef("s", "string")))
    t.insert(Seq((1L, 1.5, "a"), (2L, 2.5, "b")).toDF("id", "x", "s"))
    t.addColumn(ColumnDef("y", "bigint"))
    t.insert(Seq((3L, 3.5, "c", 30L)).toDF("id", "x", "s", "y"))
    t.dropColumn("s")
    t.insert(Seq((4L, 4.5, 40L)).toDF("id", "x", "y"))
    t.renameColumn("x", "x2")
    t.insert(Seq((5L, 5.5, 50L)).toDF("id", "x2", "y"))
    t.addColumn(ColumnDef("z", "double", Some("x2 * 2")))
    t.insert(Seq((6L, 6.5, 60L)).toDF("id", "x2", "y"))
    t.update(Map("y" -> "y + 1"), "id >= 4")
    t.delete("id = 2")
    t
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** a mergeSchema read of the files live at `v`, MVCC-filtered and mapped
    * to the names `readWithSystem` shows
    */
  private def mergeSchemaRead(t: GraftTable, v: Long): DataFrame = {
    val m = t.meta
    val raw = spark.read.option("mergeSchema", "true").parquet(m.activeFiles(v): _*)
      .filter(col(GraftTable.VMin) <= v && col(GraftTable.VMax) > v)
    m.columns.filter(c => c.storeName != c.name).foldLeft(raw) { (d, c) =>
      if (d.columns.contains(c.storeName)) d.withColumnRenamed(c.storeName, c.name) else d
    }
  }

  /** every version's stored image and user read */
  private def snapshot(t: GraftTable): Seq[(Long, String, Seq[String], String, Seq[String])] =
    (1L to t.currentVersion).filter(v => t.meta.activeFiles(v).nonEmpty).map { v =>
      val sys = t.readWithSystem(Some(v))
      val user = t.read(Some(v))
      (v, sys.schema.toDDL, rows(sys), user.schema.toDDL, rows(user))
    }

  test("files written around add, drop and rename of columns read as a mergeSchema read does") {
    val t = evolved(freshCatalog())
    (1L to t.currentVersion).filter(v => t.meta.activeFiles(v).nonEmpty).foreach { v =>
      val want = mergeSchemaRead(t, v)
      val got = t.readWithSystem(Some(v))
      assert(got.schema == want.schema, s"schema at v$v")
      assert(rows(got) == rows(want), s"rows at v$v")
    }
    assert(rows(t.read()) == Seq("1|1.5|null|3.0", "3|3.5|30|7.0", "4|4.5|41|9.0",
      "5|5.5|51|11.0", "6|6.5|61|13.0"))
  }

  test("a meta.json logged without schemas reads the same") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema-old").toString
    val t = evolved(new Catalog(dir))
    val before = snapshot(t)
    val metaPath = java.nio.file.Paths.get(dir, "evo", "meta.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(metaPath))
    root.get("versions").elements().forEachRemaining(e =>
      e.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("schema"))
    java.nio.file.Files.write(metaPath, mapper.writeValueAsBytes(root))
    val old = GraftTable.open(spark, new Catalog(dir), "evo")
    assert(old.meta.versions.forall(_.schema.isEmpty))
    assert(snapshot(old) == before)
    // entries logged after the upgrade merge with the footer-read ones
    old.insert(Seq((7L, 7.5, 70L)).toDF("id", "x2", "y"))
    assert(old.meta.versions.last.schema.nonEmpty)
    assert(rows(old.readWithSystem()) == rows(mergeSchemaRead(old, old.currentVersion)))
  }

  test("two inserts that give one column conflicting types still fail to read") {
    for (versioned <- Seq(true, false)) {
      val t = GraftTable.create(spark, freshCatalog(), "conflict", Seq(
        ColumnDef("id", "bigint"), ColumnDef("x", "bigint")), isVersioned = versioned)
      t.insert(Seq((1L, 1L)).toDF("id", "x"))
      t.insert(Seq((2L, "two")).toDF("id", "x"))
      val e = intercept[org.apache.spark.SparkException](t.read().collect())
      assert(e.getMessage.toLowerCase.contains("merg"), e.getMessage)
    }
  }

  test("batchUpdate refuses a frame over its row ceiling") {
    val t = GraftTable.create(spark, freshCatalog(), "big", Seq(
      ColumnDef("id", "bigint"), ColumnDef("v", "bigint")))
    t.insert(Seq((1L, 1L)).toDF("id", "v"))
    val n = GraftTable.MaxBatchUpdateRows + 1L
    val e = intercept[IllegalArgumentException](
      t.batchUpdate(spark.range(n).select(col("id"), col("id").as("v")), Seq("id")))
    assert(e.getMessage.contains(s"at most ${GraftTable.MaxBatchUpdateRows} rows") &&
      e.getMessage.contains("update(...)"), e.getMessage)
    assert(t.currentVersion == 1L)
    assert(t.batchUpdate(Seq((1L, 5L)).toDF("id", "v"), Seq("id")) == 2L)
    assert(t.read().as[(Long, Long)].collect().toSeq == Seq((1L, 5L)))
  }
}
