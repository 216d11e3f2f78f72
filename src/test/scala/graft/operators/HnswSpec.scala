package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HnswSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** deterministic pseudo-random vector for id i */
  private def vec(i: Long, dim: Int = 16): Array[Double] =
    Array.tabulate(dim) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v:$i:$d".getBytes("UTF-8"))
      (java.nio.ByteBuffer.wrap(h).getInt() / Int.MaxValue.toDouble)
    }

  private def bruteTopK(vs: Seq[(Long, Array[Double])], q: Array[Double],
      k: Int): Seq[Long] = {
    val qn = Hnsw.unit(q)
    vs.map { case (id, v) =>
      val u = Hnsw.unit(v)
      (id, u.zip(qn).map { case (a, b) => a * b }.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }

  test("graph search recall vs brute force on one shard") {
    val data = (0L until 500L).map(i => i -> vec(i))
    val g = Hnsw.buildGraph(data.iterator, m = 16, efConstruction = 100)
    val q = vec(9999L)
    val expected = bruteTopK(data, q, 10).toSet
    val got = g.search(q, 10, ef = 64).map(_._1).toSet
    val recall = (expected & got).size / 10.0
    assert(recall >= 0.9, s"recall $recall below 0.9: got $got want $expected")
  }

  test("build is deterministic and serialization round-trips") {
    val data = (0L until 200L).map(i => i -> vec(i))
    val g1 = Hnsw.buildGraph(data.iterator, m = 8, efConstruction = 50)
    val g2 = Hnsw.buildGraph(data.iterator, m = 8, efConstruction = 50)
    assert(java.util.Arrays.equals(g1.serialize(), g2.serialize()))
    val g3 = Hnsw.deserialize(g1.serialize())
    val q = vec(777L)
    assert(g1.search(q, 5, 32) == g3.search(q, 5, 32))
  }

  test("sharded index: distributed build, union-of-shards top-k, high recall") {
    val data = (0L until 1000L).map(i => i -> vec(i))
    val df = data.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("hnsw-idx").toString + "/i"
    Hnsw.buildIndex(df, "embedding", "vec_id", idx, shards = 4)
    // one graph per non-empty shard, bytes in parquet
    val shards = spark.read.parquet(idx)
    assert(shards.count() == 4)
    assert(shards.agg(sum("n")).as[Long].head() == 1000L)
    val q = vec(31337L)
    val got = Hnsw.search(spark, idx, q.toSeq, 10, ef = 96)
      .select("vec_id").as[Long].collect().toSet
    val expected = bruteTopK(data, q, 10).toSet
    val recall = (expected & got).size / 10.0
    assert(recall >= 0.9, s"sharded recall $recall: got $got want $expected")
  }

  test("shard pruning: cap bound is sound and pruned search equals unpruned") {
    // bound math: inside the cap → 1.0; outside → cos(θqc − θr)
    assert(Hnsw.capBound(0.9, 0.8) == 1.0)
    val b = Hnsw.capBound(0.5, 0.9)
    assert(b > 0.5 && b < 1.0)
    assert(math.abs(b - (0.5 * 0.9 + math.sqrt(0.75 * 0.19))) < 1e-12)
    // two well-separated clusters → pruning must not change results
    val clustered = (0L until 400L).map { i =>
      val base = if (i < 200) 1.0 else -1.0
      i -> vec(i).zipWithIndex.map { case (x, d) =>
        x * 0.05 + (if (d == 0) base else 0.0) }
    }
    val df = clustered.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("hnsw-prune").toString + "/i"
    Hnsw.buildIndex(df, "embedding", "vec_id", idx, shards = 4)
    val q = Array.tabulate(16)(d => if (d == 0) 1.0 else 0.01)
    val withPrune = Hnsw.search(spark, idx, q.toSeq, 10, ef = 96)
      .collect().map(_.getLong(0)).toSeq
    val noPrune = Hnsw.search(spark, idx, q.toSeq, 10, ef = 96, prune = false)
      .collect().map(_.getLong(0)).toSeq
    assert(withPrune == noPrune, "pruning changed the result set")
    assert(withPrune.forall(_ < 200), "wrong cluster matched")
  }

  test("appendToIndex adds segments that search covers without a rebuild") {
    val idx = java.nio.file.Files.createTempDirectory("hnsw-append").toString + "/i"
    val first = (0L until 300L).map(i => i -> vec(i))
    Hnsw.buildIndex(first.toDF("vec_id", "embedding"),
      "embedding", "vec_id", idx, shards = 2)
    val more = (300L until 500L).map(i => i -> vec(i))
    Hnsw.appendToIndex(more.toDF("vec_id", "embedding"),
      "embedding", "vec_id", idx)
    assert(spark.read.parquet(idx).count() == 3) // 2 built + 1 appended
    val q = vec(424242L)
    val got = Hnsw.search(spark, idx, q.toSeq, 10, ef = 96)
      .select("vec_id").as[Long].collect().toSet
    val expected = bruteTopK(first ++ more, q, 10).toSet
    assert((expected & got).size >= 9, s"recall after append: got $got want $expected")
  }

  test("searchRerank equals brute force exactly (oracle containment at ef=256)") {
    val data = (0L until 1000L).map(i => i -> vec(i))
    val df = data.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("hnsw-rerank").toString + "/i"
    Hnsw.buildIndex(df, "embedding", "vec_id", idx, shards = 4)
    val q = vec(31337L)
    val got = Hnsw.searchRerank(df, "embedding", "vec_id", idx, q.toSeq, 10, ef = 256)
      .select("vec_id").as[Long].collect().toSeq
    val expected = bruteTopK(data, q, 10)
    assert(got == expected, s"rerank diverged from brute force: $got vs $expected")
  }

  test("q84 exact re-rank matches the brute-force oracle on real test data") {
    // same gate the driver applies: q84's output must equal its oracle —
    // which is q81's brute-force SQL verbatim, and q81 is exact by
    // construction — so q84(sf) == q81(sf) row-for-row.
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val hnsw = graft.SparkEntry.queries("q84_ann_hnsw")(spark, sf).collect().toSeq
      val brute = graft.SparkEntry.queries("q81_ann_ivf_learned")(spark, sf).collect().toSeq
      assert(hnsw == brute, s"q84 != q81 at $sf")
    }
  }

  test("level assignment follows the geometric distribution") {
    val levels = (0L until 20000L).map(Hnsw.levelFor(_, 16))
    val l0 = levels.count(_ == 0) / 20000.0
    assert(l0 > 0.9 && l0 < 0.97, s"P(level=0)=$l0, want ~1-1/16")
    assert(levels.max <= 6, s"suspiciously deep: ${levels.max}")
  }
}
