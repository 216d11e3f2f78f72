package graft.tools

import graft.catalog.{Catalog, ColumnDef, GraftTable}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Measures what the DML-maintained minhash index amortizes: checking an
  * incoming batch against a corpus WITH the index (sign the batch only,
  * probe persisted segments) vs WITHOUT it (re-sign the whole corpus per
  * check — the batch operator's cost shape). Run at 1× and m× corpus
  * size: the baseline grows with the corpus (full shingle+minhash
  * recompute), the probe's growth is only the segment scan.
  *
  * Usage: runMain graft.tools.MinhashScale [sfDir] [mult]
  * (mult× corpus taken from ScaleCheck's /tmp/graft_scale_<m>x if built,
  * else built here the same way.)
  */
object MinhashScale {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val bigDir = s"/tmp/graft_scale_${mult}x"
    val spark = graft.Sessions.local()

    if (!new java.io.File(s"$bigDir/documents.parquet").exists()) {
      val src = spark.read.parquet(s"$base/documents.parquet")
      (0 until mult).map(i => src.withColumn("doc_id",
          col("doc_id") + lit(i * 10000000L)))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
    }

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    def run(tag: String, dir: String): Unit = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val n = docs.count()
      val cat = new Catalog(
        java.nio.file.Files.createTempDirectory(s"graft-mhs-$tag").toString)
      val t = GraftTable.create(spark, cat, "corpus", Seq(
        ColumnDef("doc_id", "bigint"), ColumnDef("text", "string")))
      t.insert(docs.repartition(32))
      val (_, tBuild) = timed {
        t.createMinhashIndex("nd", "text", "doc_id",
          // S-curve matched to the 0.9 threshold: (1/b)^(1/r) = (1/4)^(1/16)
          // ≈ 0.92 — at this corpus's median inter-doc Jaccard (~0.5) the
          // band-collision rate is ~0.5^16·4 ≈ 6e-5, vs ~12% for the
          // (8, 2×4) gate defaults, which candidate-explodes here
          numHashes = 64, bands = 4, shingleSize = 3)
      }
      // incoming batch: 100 docs drawn from the corpus (guaranteed hits)
      val probe = docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 900000000L).as("qid"), col("text").as("txt"))
        .cache()
      probe.count()
      def withIndex() = t.searchNearDups("nd", probe, "txt", "qid", 0.9)
        .write.format("noop").mode("overwrite").save()
      // baseline: no index — sign the WHOLE corpus for this check, then
      // the same band join + verify
      def withoutIndex() = {
        val corpus = t.read()
        val cs = Dedup.bandSignatures(corpus, "text", "doc_id", 64, 4, 3)
        val qs = Dedup.bandSignatures(probe, "txt", "qid", 64, 4, 3)
        val cand = qs.as("q").join(cs.as("c"),
            col("q._b") === col("c._b") && col("q._h") === col("c._h"))
          .select(col("q._id").as("_ida"), col("c._id").as("_idb"))
          .distinct()
        Dedup.verifyJaccardBetween(cand, probe, "txt", "qid",
            corpus, "text", "doc_id", 3, 0.9)
          .write.format("noop").mode("overwrite").save()
      }
      withIndex(); withoutIndex() // warm
      val (_, tIdx) = timed(withIndex())
      val (_, tBase) = timed(withoutIndex())
      println(f"[mhscale] $tag%-4s docs=$n%8d build=$tBuild%6.2fs " +
        f"probe(index)=$tIdx%6.2fs probe(re-sign)=$tBase%6.2fs " +
        f"speedup=${tBase / tIdx}%4.1fx")
    }

    run("1x", base)
    run(s"${mult}x", bigDir)
    spark.stop()
  }
}
