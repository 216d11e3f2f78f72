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

  private def budgetTable(): GraftTable = {
    val t = GraftTable.create(spark, freshCatalog(), "budget", Seq(
      ColumnDef("id", "bigint"), ColumnDef("text", "string"),
      ColumnDef("emb", "array<double>"),
      ColumnDef("n_chars", "int", Some("length(text)")),
      ColumnDef("bucket", "bigint", Some("id % 7"))),
      primaryKey = Seq("id"))
    t.insert(docs(0L until 500L))
    t.createHnswIndex("e", "emb", "id", shards = 2)
    t.insert(docs(500L until 600L)) // warm
    t
  }

  test("an insert of a local batch above every live key range runs at most 2 jobs") {
    val t = budgetTable()
    assert(TestSpark.jobsDuring(t.read()).isEmpty, "building read() ran a job")
    val jobs = TestSpark.jobsDuring(t.insert(docs(600L until 700L)))
    assert(jobs.size <= 2, s"insert ran ${jobs.size} jobs")
    assert(t.meta.indexes.head.indexedThrough == t.currentVersion)
    assert(t.read().count() == 700L)
    assert(t.read().where("id = 650").select("n_chars", "bucket").as[(Int, Long)].head() ==
      ("text 650 0".length, 650L % 7))
    // an in-batch duplicate is found on the driver
    val dup = TestSpark.jobsDuring(intercept[IllegalArgumentException](
      t.insert(docs(Seq(900L, 901L, 900L)))))
    assert(dup.isEmpty, s"the in-batch duplicate check ran ${dup.size} jobs")
  }

  test("an insert of a local batch that overlaps a live file runs at most 3 jobs") {
    val t = budgetTable()
    t.delete("id = 250")
    val jobs = TestSpark.jobsDuring(t.insert(docs(Seq(250L) ++ (700L until 799L))))
    assert(jobs.size <= 3, s"insert ran ${jobs.size} jobs")
    assert(t.read().count() == 699L)
    val e = intercept[IllegalArgumentException](t.insert(docs(Seq(800L, 251L))))
    assert(e.getMessage == "Duplicate primary key: id=251", e.getMessage)
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

  /** A primary-key case: the table's columns and key, the set-up ops, and
    * the batches inserted in turn, each with the verdict it must get ("ok",
    * or the error message; one ending in "=" is a prefix).
    */
  private final case class PkCase(name: String, columns: Seq[ColumnDef], pk: Seq[String],
      setup: Seq[GraftTable => Any], tries: Seq[(DataFrame, String)])

  /** Runs `c` twice, each time on a fresh table: once with every batch
    * local (checked on the driver when its key types allow) and once with
    * every batch distributed (the aggregate). Both runs must give the
    * listed verdicts and end with the same rows.
    */
  private def checkVerdicts(c: PkCase): Unit = {
    val ends = Seq(false, true).map { distributed =>
      val t = GraftTable.create(spark, freshCatalog(), c.name, c.columns, primaryKey = c.pk)
      c.setup.foreach(_(t))
      c.tries.zipWithIndex.foreach { case ((batch, want), i) =>
        val b = if (distributed) batch.repartition(2) else batch
        val got = try { t.insert(b); "ok" } catch {
          case e: IllegalArgumentException => e.getMessage
        }
        val where = s"${c.name} try $i (${if (distributed) "distributed" else "local"})"
        if (want.endsWith("=")) assert(got.startsWith(want), s"$where: $got")
        else assert(got == want, s"$where: $got")
      }
      t.read().collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }.mkString("|")).toSeq.sorted
    }
    assert(ends(0) == ends(1), c.name)
  }

  private val idV = Seq(ColumnDef("id", "bigint"), ColumnDef("v", "string"))
  private def idRows(ids: Long*): DataFrame = ids.map(i => (i, s"v$i")).toDF("id", "v")

  test("in-batch duplicates get the aggregate's verdicts: nulls, signed zeros, NaN, binary") {
    checkVerdicts(PkCase("nulls", idV, Seq("id"), Seq(_.insert(idRows(1L, 2L))), Seq(
      Seq((None: Option[Long], "a"), (None: Option[Long], "b")).toDF("id", "v") ->
        "Duplicate primary key in inserted rows: id=null",
      Seq((Option(3L), "a"), (None: Option[Long], "b")).toDF("id", "v") -> "ok")))
    val ab = Seq(ColumnDef("a", "bigint"), ColumnDef("b", "string"))
    checkVerdicts(PkCase("null_part", ab, Seq("a", "b"),
      Seq(_.insert(Seq((1L, null: String)).toDF("a", "b"))), Seq(
        Seq((1L, null: String), (1L, null: String)).toDF("a", "b") ->
          "Duplicate primary key in inserted rows: a=1, b=null",
        Seq((1L, null: String), (1L, "q")).toDF("a", "b") -> "ok")))
    val xv = Seq(ColumnDef("x", "double"), ColumnDef("v", "string"))
    checkVerdicts(PkCase("zeros_nan", xv, Seq("x"),
      Seq(_.insert(Seq((1.0, "a")).toDF("x", "v"))), Seq(
        Seq((-0.0, "a"), (0.0, "b")).toDF("x", "v") ->
          "Duplicate primary key in inserted rows: x=0.0",
        Seq((Double.NaN, "a"), (Double.NaN, "b")).toDF("x", "v") ->
          "Duplicate primary key in inserted rows: x=NaN",
        Seq((-0.0, "a"), (Double.NaN, "b")).toDF("x", "v") -> "ok",
        Seq((0.0, "c")).toDF("x", "v") -> "Duplicate primary key: x=0.0")))
    val bv = Seq(ColumnDef("k", "binary"), ColumnDef("v", "string"))
    checkVerdicts(PkCase("binary", bv, Seq("k"),
      Seq(_.insert(Seq((Array[Byte](1, 2), "a")).toDF("k", "v"))), Seq(
        Seq((Array[Byte](3), "a"), (Array[Byte](3), "b")).toDF("k", "v") ->
          "Duplicate primary key in inserted rows: k=",
        Seq((Array[Byte](1, 2), "c")).toDF("k", "v") -> "Duplicate primary key: k=",
        Seq((Array[Byte](1), "c")).toDF("k", "v") -> "ok")))
  }

  test("live conflicts get the aggregate's verdicts at file-range edges, after DML, on composite keys") {
    // ids 10..20 and 40..50 land in files whose footer ranges end on them
    checkVerdicts(PkCase("edges", idV, Seq("id"),
      Seq(_.insert(idRows(10L to 20L: _*)), _.insert(idRows(40L to 50L: _*))), Seq(
        idRows(30L, 10L) -> "Duplicate primary key: id=10",
        idRows(20L, 31L) -> "Duplicate primary key: id=20",
        idRows(40L) -> "Duplicate primary key: id=40",
        idRows(50L, 51L) -> "Duplicate primary key: id=50",
        idRows(9L, 21L, 39L) -> "ok")))
    // a deleted key is free again, also once a later update has rewritten
    // its file (the closed image rides along); an updated key stays live
    checkVerdicts(PkCase("closed", idV, Seq("id"), Seq(
      _.insert(idRows(10L to 20L: _*)), _.delete("id = 15"),
      _.update(Map("v" -> "'u'"), "id = 14"), _.delete("id = 12")), Seq(
        idRows(15L, 12L) -> "ok",
        idRows(14L) -> "Duplicate primary key: id=14",
        idRows(16L) -> "Duplicate primary key: id=16")))
    // per-column key lists over-select on a composite key: (1,y) and (2,x)
    // are not live though every part is
    val ab = Seq(ColumnDef("a", "bigint"), ColumnDef("b", "string"))
    checkVerdicts(PkCase("composite", ab, Seq("a", "b"),
      Seq(_.insert(Seq((1L, "x"), (2L, "y")).toDF("a", "b"))), Seq(
        Seq((1L, "y"), (2L, "x")).toDF("a", "b") -> "ok",
        Seq((3L, "z"), (2L, "y")).toDF("a", "b") -> "Duplicate primary key: a=2, b=y")))
    // a string first key column prunes no file: the probe still finds it
    val sv = Seq(ColumnDef("s", "string"), ColumnDef("n", "bigint"))
    checkVerdicts(PkCase("string_key", sv, Seq("s", "n"),
      Seq(_.insert(Seq(("k1", 1L), ("k2", 2L)).toDF("s", "n"))), Seq(
        Seq(("k3", 1L), ("k2", 2L)).toDF("s", "n") -> "Duplicate primary key: s=k2, n=2",
        Seq(("k2", 1L), ("k1", 2L)).toDF("s", "n") -> "ok")))
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
