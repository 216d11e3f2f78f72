package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),     // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again!"),    // near dup of 1
    (4L, "completely different content about spark query engines and scale"),
  ).toDF("id", "text")

  test("exact dedup keeps smallest id per identical text") {
    val out = Dedup.exact(docs, "text", "id").select("id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 4L))
  }

  test("near-dup LSH removes high-jaccard variants too") {
    val out = Dedup.nearDuplicates(docs, "text", "id", jaccardThreshold = 0.8)
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 4L)) // 2 (exact) and 3 (near) both collapse into 1
  }

  test("simhash buckets collapse identical token streams") {
    val out = Dedup.simhashBuckets(docs, "text", "id").select("id").as[Long].collect().toSet
    assert(out.contains(1L) && out.contains(4L) && !out.contains(2L))
  }

  test("connected components collapse chains and separate islands") {
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("near-dup chain A~B, B~C, A!~C keeps exactly one survivor") {
    // 3-shingle Jaccard: A-B = 6/10 = 0.6, B-C = 0.6, A-C = 4/12 = 0.33 —
    // both adjacent pairs clear threshold 0.5, the chain ends don't.
    val chain = Seq(
      (1L, "abcdefghij"),
      (2L, "cdefghijkl"),
      (3L, "efghijklmn"),
      (9L, "zzzzyyyyxxxx"),
    ).toDF("id", "text")
    val pairs = Dedup.nearDuplicatePairs(chain, "text", "id",
      jaccardThreshold = 0.5, numHashes = 8, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L))) // no 1-3 edge
    val out = Dedup.nearDuplicates(chain, "text", "id",
      jaccardThreshold = 0.5, numHashes = 8, bands = 8)
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 9L)) // transitive chain → single keeper
  }

  test("decontaminate counts distinct overlapping word n-grams") {
    // bench doc = "a b c d e"; train 20 shares the 3-grams "a b c" /
    // "b c d" / "c d e" (and "b c d" TWICE — distinct count still 3);
    // train 21 shares none; train 22 is below n tokens.
    val train = Seq(
      (20L, "a b c d e x b c d"),
      (21L, "p q r s t u"),
      (22L, "a b"),
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, bench, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(20L -> 3L))
  }

  test("redactPii replaces and counts emails, phones and IPv4s") {
    import graft.functions.TextFunctions
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "call 555-867-5309 or ping 192.168.0.1 ok"),
      (3L, "no pii here"),
      (4L, "a@b.io and c_d%e@f-g.co.uk twice"),
    ).toDF("id", "t")
    val got = rows.select(col("id"),
        TextFunctions.redactPii(col("t")).as("r"),
        TextFunctions.piiCount(col("t")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    assert(got == List(
      (1L, "mail <EMAIL> now", 1L),
      (2L, "call <PHONE> or ping <IP> ok", 2L),
      (3L, "no pii here", 0L),
      (4L, "<EMAIL> and <EMAIL> twice", 2L)))
  }

  test("semanticNearDupPairs equals brute force regardless of clustering") {
    // deterministic pseudo-random 16-dim vectors: clusters are garbage on
    // this data, so the test pins the exactness claim (pruning can only
    // degrade, never lose pairs)
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 120).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian())))
    val df = vecs.toDF("vec_id", "embedding")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cos(va, vb) >= 0.3
    } yield (ia, ib)).toSet
    assert(want.nonEmpty)
    for (k <- Seq(1, 5)) { // k=1 = degenerate single cluster, k=5 = pruned
      val got = Dedup.semanticNearDupPairs(df, "embedding", "vec_id",
          tau = 0.3, k = k)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      assert(got == want, s"k=$k")
    }
  }

  test("semanticNearDupPairs rejects non-integral ids up front") {
    val df = Seq(("a", Seq(1.0, 0.0)), ("b", Seq(1.0, 0.01)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Dedup.semanticNearDupPairs(df, "embedding", "vec_id", tau = 0.9, k = 1))
    assert(e.getMessage.contains("integral id column"), e.getMessage)
  }

  test("separable clusters prune cluster pairs; chains dedup to one keeper") {
    // 4 tight blobs on orthogonal axes: cross-blob cosine ~0, within-blob
    // ~1. At tau=0.9 the triangle-inequality ceiling kills every
    // cross-cluster pair, so the candidate list is the 4 self-pairs.
    val dirs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val pts = (0 until 40).map { i =>
      val d = dirs(i % 4)
      (i.toLong, d.zipWithIndex.map { case (v, j) => v * 5 + 0.002 * ((i + j) % 5) })
    }
    val df = pts.toDF("vec_id", "embedding")
    // pruning-bound geometry on a hand-built layout (k-means init can
    // legitimately split one blob, which weakens pruning but never
    // correctness — the exactness test above pins that): ideal centroids
    // at the axes, tiny radii → at tau=0.9 the ceiling 1−(√2−2r)²/2 ≈ 0
    // kills every cross pair, keeping only the 4 self-pairs
    val ideal = ExactAnn.Ivf(KMeans.Model(dirs),
      (0 until 4).map(_ -> 0.01).toMap)
    val cand = Dedup.candidateClusterPairs(ideal, tau = 0.9, exact = true)
    assert(cand.toSet == (0 until 4).map(c => (c, c)).toSet)
    // ...and with a threshold low enough that the ceiling can't exclude
    // anything, every unordered pair survives (degrades to brute force)
    val all = Dedup.candidateClusterPairs(ideal, tau = -1.0, exact = true)
    assert(all.size == 4 * 5 / 2)
    // within-blob members are mutual near-dups → semanticDedup keeps the
    // smallest id per blob
    val kept = Dedup.semanticDedup(df, "embedding", "vec_id", tau = 0.9, k = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L))
    // SemDeDup-proper mode (within-cluster only) can only MISS pairs vs
    // exact — here k-means split blob 0 across two centroids, so the
    // approximation genuinely drops the cross-split pairs while the
    // triangle-inequality mode still finds them (the exact flag's whole
    // point). Pin the subset relation and that exact covers every
    // within-blob pair.
    val approx = Dedup.semanticNearDupPairs(df, "embedding", "vec_id",
        tau = 0.9, k = 4, exact = false)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val exactPairs = Dedup.semanticNearDupPairs(df, "embedding", "vec_id",
        tau = 0.9, k = 4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(approx.subsetOf(exactPairs))
    val wantBlobPairs = (for {
      a <- 0L until 40L; b <- 0L until 40L
      if a < b && a % 4 == b % 4 // same blob
    } yield (a, b)).toSet
    assert(exactPairs == wantBlobPairs)
  }

  test("semantic pair comparison is keyed on (pair, salt) — no cartesian") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 60).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val q = Dedup.semanticNearDupPairs(df, "embedding", "vec_id",
      tau = 0.5, k = 4)
    val plan = q.queryExecution.executedPlan.toString
    // the row-pair meeting point is the grouped primitive kernel: one
    // hash exchange on the (candidate pair, salt) key feeding MapGroups —
    // never a cartesian/nested-loop over rows (the candidate pair map is a
    // driver-held broadcast variable, not a join input)
    assert(plan.contains("MapGroups"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the survivor re-fetch joins stay id-equi (broadcast/hash), keyed
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
  }

  test("wordNgrams guards short token arrays") {
    import graft.functions.TextFunctions
    val df = Seq("a b c d", "a b", "").toDF("t")
      .select(TextFunctions.wordNgrams(
        TextFunctions.tokens(col("t")), 3).as("g"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(List("a b c", "b c d"), Nil, Nil))
  }
}
