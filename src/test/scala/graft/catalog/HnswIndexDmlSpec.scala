package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DML-maintained HNSW index lifecycle: segments append on insert, updates
  * re-rank by the NEW vector (no ghost scores from stale segments), deletes
  * drop at the live join with escalating over-fetch, threshold compaction
  * swaps in a rebuilt index via the CAS, and `indexedThrough` lag repairs
  * from the version log. Reference behavior: embedding indexes are updated
  * transparently inside insert/update plans
  * (`/root/reference/pixeltable/plan.py:380-393` value/undo columns).
  */
class HnswIndexDmlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCatalog() =
    new Catalog(java.nio.file.Files.createTempDirectory("graft-wh").toString)

  private def vec(i: Long, dim: Int = 8): Seq[Double] =
    (0 until dim).map { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v:$i:$d".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h).getInt() / Int.MaxValue.toDouble
    }

  private def mkTable(cat: Catalog, name: String, n: Long): GraftTable = {
    val t = GraftTable.create(spark, cat, name, Seq(
      ColumnDef("id", "bigint"), ColumnDef("emb", "array<double>")))
    t.insert((0L until n).map(i => (i, vec(i))).toDF("id", "emb"))
    t
  }

  /** brute-force cosine top-k over the table's LIVE rows — the oracle */
  private def bruteTopK(t: GraftTable, q: Seq[Double], k: Int): Seq[Long] = {
    import graft.functions.VectorFunctions
    t.read()
      .withColumn("s", VectorFunctions.cosineSimilarity(col("emb"),
        VectorFunctions.vectorLit(q)))
      .orderBy(col("s").desc, col("id")).limit(k)
      .select("id").as[Long].collect().toSeq
  }

  test("insert after createHnswIndex: new rows searchable, mark advances") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix1", 200L)
    t.createHnswIndex("e", "emb", "id", shards = 2)
    assert(t.meta.indexes.head.indexedThrough == t.currentVersion)
    t.insert((200L until 260L).map(i => (i, vec(i))).toDF("id", "emb"))
    assert(t.meta.indexes.head.indexedThrough == t.currentVersion)
    val q = vec(9999L)
    val got = t.searchIndex("e", q, 10).select("vec_id").as[Long].collect().toSeq
    assert(got == bruteTopK(t, q, 10), "post-insert search != brute force")
  }

  test("update of the embedding column ranks the row by its NEW vector") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix2", 150L)
    t.createHnswIndex("e", "emb", "id", shards = 2)
    val q = vec(31337L)
    // point id=7's embedding exactly at the query: must become rank 1
    val qLit = q.map(_.toString).mkString("array(", ", ", ")")
    t.update(Map("emb" -> qLit), "id = 7")
    val got = t.searchIndex("e", q, 5).select("vec_id").as[Long].collect().toSeq
    assert(got.head == 7L, s"updated row not ranked by new vector: $got")
    assert(got == bruteTopK(t, q, 5))
    // and the OLD vector of id=7 must not ghost-rank anywhere: scores come
    // from live values, so every returned score equals the live cosine
    val scored = t.searchIndex("e", q, 5).collect()
    assert(math.abs(scored.head.getAs[Double]("cos_sim") - 1.0) < 1e-9)
  }

  test("batchUpdate maintains the index too") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix3", 100L)
    t.createHnswIndex("e", "emb", "id", shards = 2)
    val q = vec(555L)
    t.batchUpdate(Seq((3L, q)).toDF("id", "emb"), Seq("id"))
    val got = t.searchIndex("e", q, 3).select("vec_id").as[Long].collect().toSeq
    assert(got.head == 3L)
    assert(got == bruteTopK(t, q, 3))
  }

  test("heavy deletion: over-fetch escalates until k live rows surface") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix4", 300L)
    t.createHnswIndex("e", "emb", "id", shards = 2)
    val q = vec(777L)
    // delete ~95% of rows — far more than the default 4k over-fetch covers
    t.delete("id % 20 != 0")
    val got = t.searchIndex("e", q, 10).select("vec_id").as[Long].collect().toSeq
    assert(got.length == 10, s"expected k=10 live results, got ${got.length}")
    assert(got.toSet.subsetOf((0L until 300L by 20L).toSet))
    assert(got == bruteTopK(t, q, 10))
  }

  test("logged index row total: escalation under heavy deletion, and a meta without it") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix4b", 300L)
    t.createHnswIndex("e", "emb", "id", shards = 2)
    assert(t.meta.indexes.head.rows == Some(300L))
    t.insert((300L until 340L).map(i => (i, vec(i))).toDF("id", "emb"))
    assert(t.meta.indexes.head.rows == Some(340L))
    // delete ~95% of rows: the first over-fetch finds too few live hits
    t.delete("id % 20 != 0")
    val q = vec(778L)
    val got = t.searchIndex("e", q, 10).select("vec_id").as[Long].collect().toSeq
    assert(got.length == 10, s"expected k=10 live results, got ${got.length}")
    assert(got == bruteTopK(t, q, 10))
    // a meta written before the total was logged: search sums the segments
    val metaFile = java.nio.file.Paths.get(cat.warehouse, "ix4b", "meta.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(metaFile.toFile)
    tree.get("indexes").forEach(ix =>
      ix.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("rows"))
    mapper.writeValue(metaFile.toFile, tree)
    assert(!new String(java.nio.file.Files.readAllBytes(metaFile)).contains("\"rows\""))
    assert(t.meta.indexes.head.rows.isEmpty)
    assert(t.searchIndex("e", q, 10).select("vec_id").as[Long].collect().toSeq == got)
    // appends keep an unknown total unknown
    t.insert((340L until 360L).map(i => (i, vec(i))).toDF("id", "emb"))
    assert(t.meta.indexes.head.rows.isEmpty)
    val q2 = vec(779L)
    assert(t.searchIndex("e", q2, 10).select("vec_id").as[Long].collect().toSeq ==
      bruteTopK(t, q2, 10))
  }

  test("segment threshold triggers rebuild into a fresh dir via CAS swap") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix5", 100L)
    t.createHnswIndex("e", "emb", "id", shards = 2, segmentThreshold = 4)
    val path0 = t.meta.indexes.head.path
    (0 until 5).foreach { b =>
      t.insert(Seq((1000L + b, vec(1000L + b))).toDF("id", "emb"))
    }
    val ix = t.meta.indexes.head
    assert(ix.path != path0, "rebuild did not swap the index dir")
    assert(spark.read.parquet(ix.path).count() <= 4, "rebuild did not compact")
    val q = vec(424242L)
    val got = t.searchIndex("e", q, 10).select("vec_id").as[Long].collect().toSeq
    assert(got == bruteTopK(t, q, 10))
  }

  test("indexedThrough lag repairs from the version log (crash recovery)") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix6", 100L)
    t.createHnswIndex("e", "emb", "id", shards = 2)
    // simulate a crash that committed data but lost index maintenance:
    // roll the high-water mark back by hand
    val m = cat.load("ix6")
    cat.save(m.copy(indexes = m.indexes.map(_.copy(indexedThrough = 1L))))
    t.insert((100L until 140L).map(i => (i, vec(i))).toDF("id", "emb"))
    assert(t.meta.indexes.head.indexedThrough == t.currentVersion)
    val q = vec(8888L)
    val got = t.searchIndex("e", q, 10).select("vec_id").as[Long].collect().toSeq
    assert(got == bruteTopK(t, q, 10), "repair after lag diverged")
  }

  test("schema changes respect indexes: drop refused, rename followed") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix8", 80L)
    t.createHnswIndex("e", "emb", "id", shards = 2)
    // dropping the indexed column (or id col) would leave a dangling
    // IndexDef that breaks every later insert inside maintainIndexes
    val e1 = intercept[IllegalArgumentException](t.dropColumn("emb"))
    assert(e1.getMessage.contains("dropIndex"))
    intercept[IllegalArgumentException](t.dropColumn("id"))
    // rename follows through into the index def: maintenance + search work
    t.renameColumn("emb", "vec")
    assert(t.meta.indexes.head.column == "vec")
    t.insert(Seq((500L, vec(500L))).toDF("id", "vec"))
    val q = vec(12321L)
    val got = t.searchIndex("e", q, 5).select("vec_id").as[Long].collect().toSeq
    import graft.functions.VectorFunctions
    val brute = t.read()
      .withColumn("s", VectorFunctions.cosineSimilarity(col("vec"),
        VectorFunctions.vectorLit(q)))
      .orderBy(col("s").desc, col("id")).limit(5)
      .select("id").as[Long].collect().toSeq
    assert(got == brute, "index broken after renaming its column")
    // after dropIndex, the column drop goes through
    t.dropIndex("e")
    t.dropColumn("vec")
    assert(!t.read().columns.contains("vec"))
  }

  test("dropIndex removes segment dirs including rebuilt generations") {
    val cat = freshCatalog()
    val t = mkTable(cat, "ix7", 60L)
    t.createHnswIndex("e", "emb", "id", shards = 2, segmentThreshold = 2)
    (0 until 3).foreach(b => t.insert(Seq((500L + b, vec(500L + b))).toDF("id", "emb")))
    t.dropIndex("e")
    assert(t.meta.indexes.isEmpty)
    val root = java.nio.file.Paths.get(cat.warehouse, "ix7", "index")
    val left = if (!java.nio.file.Files.exists(root)) Nil
      else { val s = java.nio.file.Files.list(root)
        try s.iterator().hasNext :: Nil finally s.close() }
    assert(left.forall(_ == false), "index dirs left behind after dropIndex")
  }
}
