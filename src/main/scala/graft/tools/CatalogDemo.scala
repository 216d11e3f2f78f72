package graft.tools

import graft.catalog._
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** End-to-end walkthrough of the versioned-table API: create → insert with
  * computed columns → time travel → delete → update cascade → snapshot →
  * revert → component view with incremental refresh → embedding index →
  * multimodal metadata. Run: `sbt "runMain graft.tools.CatalogDemo [warehouseDir]"`.
  */
object CatalogDemo {
  def main(args: Array[String]): Unit = {
    val wh = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.Sessions.local()
    import spark.implicits._

    val cat = new Catalog(wh)
    val t = GraftTable.create(spark, cat, "docs", Seq(
      ColumnDef("id", "bigint"),
      ColumnDef("text", "string"),
      ColumnDef("n_chars", "bigint", Some("length(text)")),
      ColumnDef("fp", "string", Some("substr(md5(text), 1, 8)")),
      ColumnDef("shout", "string", Some("upper(text)"), stored = false),
    ))
    val v1 = t.insert(Seq((1L, "hello spark world"), (2L, "graft engine")).toDF("id", "text"))
    println(s"[demo] v$v1 after insert:")
    t.read().orderBy("id").show(false)

    val v2 = t.insert(Seq((3L, "third row")).toDF("id", "text"))
    println(s"[demo] time travel v$v1=${t.read(Some(v1)).count()} rows, v$v2=${t.read(Some(v2)).count()} rows")

    t.createSnapshot("before_delete")
    val v3 = t.delete("id = 2")
    println(s"[demo] v$v3 after delete: ${t.read().count()} rows; snapshot still ${t.readSnapshot("before_delete").count()}")

    val v4 = t.update(Map("text" -> "concat(text, '!')"), "id = 1")
    println(s"[demo] v$v4 after update (computed cols cascaded):")
    t.read().filter("id = 1").show(false)

    t.revert(v3)
    println(s"[demo] reverted to v$v3: ${t.read().filter("id = 1").select("text").as[String].head()}")

    val view = Views.createComponentView(spark, cat, "tokens", t,
      "split(text, '\\\\s+')", "token", "string", Seq(ColumnDef("id", "bigint")))
    println(s"[demo] component view tokens: ${view.read().count()} rows")
    t.insert(Seq((4L, "incremental view maintenance works")).toDF("id", "text"))
    Views.refreshComponentView(view, t, "split(text, '\\\\s+')", "token", Seq("id"))
    println(s"[demo] after base insert + refresh: ${view.read().count()} rows")
    view.read().orderBy("id", Views.Pos).show(false)

    val vecs = GraftTable.create(spark, cat, "vecs", Seq(
      ColumnDef("id", "bigint"), ColumnDef("x", "double"), ColumnDef("y", "double")))
    vecs.insert(Seq((1L, 1.0, 0.0), (2L, 0.0, 1.0), (3L, 0.8, 0.2)).toDF("id", "x", "y"))
    val idx = EmbeddingIndex.create(vecs, "xy", "array(cast(x as float), cast(y as float))")
    println("[demo] embedding index top-2 for (1,0):")
    idx.search(Seq(1.0, 0.0), 2).show(false)

    val media = Seq(
      ("img1", graft.functions.Images.solidPng(64, 32, 0x336699)),
      ("broken", "not an image".getBytes("UTF-8")),
    ).toDF("name", "bytes")
    println("[demo] multimodal metadata (real javax.imageio decode) with error capture:")
    Multimodal.withImageMeta(media, "bytes", "meta").select("name", "meta.*").show(false)

    // io connectors: csv round-trip into a versioned table
    val ioDir = java.nio.file.Files.createTempDirectory("graft-io").toString
    graft.io.Connectors.exportCsv(t.read().select("id", "text"), s"$ioDir/csv")
    val imported = graft.io.Connectors.importCsv(spark, s"$ioDir/csv")
    println(s"[demo] csv round-trip: ${imported.count()} rows re-imported")

    // streaming: micro-batches land as table versions (computed cols apply)
    val streamSrc = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-cp").toString
    Seq((100L, "streamed row one"), (101L, "streamed row two")).toDF("id", "text")
      .write.mode("overwrite").parquet(streamSrc)
    val st = GraftTable.create(spark, cat, "stream_docs", Seq(
      ColumnDef("id", "bigint"), ColumnDef("text", "string"),
      ColumnDef("n_chars", "bigint", Some("length(text)"))))
    val q = graft.streaming.Streaming.foreachBatchInto(
      graft.streaming.Streaming.fileStream(spark, streamSrc,
        org.apache.spark.sql.types.StructType.fromDDL("id bigint, text string")),
      st, cp)
    q.awaitTermination(60000)
    println(s"[demo] streamed table: ${st.read().count()} rows at v${st.currentVersion}")
    st.read().orderBy("id").show(false)

    // fluent Query API with repeatable sampling
    val sampled = graft.api.Query(t)
      .where("n_chars > 5")
      .sampleFraction(0.99, seed = 42)
      .head(2)
      .collect()
    println(s"[demo] Query API head(2) of 99% sample: ${sampled.map(_.getAs[Long]("id")).mkString(",")}")

    // rate-limited batched executor with error capture
    val batched = graft.operators.AsyncBatcher.mapColumn(
      t.read().select("id", "text"), "text", "remote_result",
      batch => batch.map(v => s"processed:${v.length}"),
      graft.operators.AsyncBatcher.Config(batchSize = 2, maxConcurrent = 2))
    println("[demo] AsyncBatcher output:")
    batched.orderBy("id").show(false)

    // directory namespace: nested paths, move with manifest rewrite
    cat.createDir("corp/raw", parents = true)
    cat.move(t.name, s"corp/raw/${t.name}")
    val moved = graft.catalog.GraftTable.open(spark, cat, s"corp/raw/${t.name}")
    println(s"[demo] moved into corp/raw: ${moved.read().count()} rows, " +
      s"dirs=${cat.listDirs().mkString(",")}")

    // structured metadata introspection
    val md = moved.tableMetadata
    println(s"[demo] tableMetadata: v${md.version}, cols=" +
      md.columns.map(c => s"${c.name}${if (c.isComputed) "*" else ""}").mkString(","))

    // embedding-space semantic dedup (exact, cluster-pruned)
    val embDf = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.999, 0.01)), // near-dups
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val semKept = graft.operators.Dedup.semanticDedup(
      embDf, "embedding", "vec_id", tau = 0.95, k = 2)
      .select("vec_id").as[Long].collect().sorted
    println(s"[demo] semanticDedup keeps: ${semKept.mkString(",")}")

    // plain SQL over graft tables (GraftRelationRule): names, time travel
    spark.conf.set("spark.graft.warehouse", cat.warehouse)
    val sqlNow = spark.sql(s"SELECT count(*) AS n FROM graft.`corp/raw/docs`")
      .as[Long].head()
    val sqlV1 = spark.sql(s"SELECT count(*) AS n FROM graft.`corp/raw/docs@v1`")
      .as[Long].head()
    println(s"[demo] spark.sql: current=$sqlNow rows, time travel @v1=$sqlV1 rows")

    // dry-run the computed-column pipeline; then recompute after a UDF change
    spark.udf.register("demo_fp", (s: String) => s.length.toLong)
    val rcT = GraftTable.create(spark, cat, "rc_demo", Seq(
      ColumnDef("id", "bigint"), ColumnDef("txt", "string"),
      ColumnDef("fp2", "bigint", Some("demo_fp(txt)"))))
    val dry = rcT.compute(Seq((1L, "abc")).toDF("id", "txt"))
      .select("fp2").as[Long].head()
    rcT.insert(Seq((1L, "abc"), (2L, "abcdef")).toDF("id", "txt"))
    spark.udf.register("demo_fp", (s: String) => s.length.toLong * 100)
    rcT.recomputeColumns(Seq("fp2"))
    val after = rcT.read().orderBy("id").select("fp2").as[Long].collect()
    println(s"[demo] compute() dry-run fp2=$dry; after UDF change + " +
      s"recomputeColumns: ${after.mkString(",")} (history keeps v1 values)")

    // view lineage + function catalog
    println(s"[demo] listViews(docs)=${
      Views.listViews(cat, moved).mkString(",")}; functions=${
      graft.functions.FunctionsCatalog.functions.size} Column builders")

    println(s"[demo] catalog tables: ${cat.listTablesUnder().mkString(", ")}")
    println("[demo] DONE")
    spark.stop()
  }
}
