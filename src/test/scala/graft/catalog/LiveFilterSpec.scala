package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** A read at version v keeps the rows with `_v_max = Live` in the files
  * active at v. Property: that equals the row-level MVCC filter
  * `_v_min <= v < _v_max` over the same files, at every version, over
  * seeded histories of every op that writes files or moves the log —
  * insert, update, batchUpdate, delete, deleteByKeys, compact, add, drop
  * and rename column, and revert — on versioned and unversioned tables.
  */
class LiveFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Image = Seq[(Long, Long, Long)]

  /** (_rowid, _v_min, _v_max) of the rows the read at `v` returns */
  private def read(t: GraftTable, v: Long): Image =
    t.readWithSystem(Some(v).filter(_ => t.meta.isVersioned))
      .select("_rowid", "_v_min", "_v_max").as[(Long, Long, Long)]
      .collect().toSeq.sorted

  /** the same, by the row-level filter over the raw files active at `v` */
  private def rowLevel(t: GraftTable, v: Long): Image = {
    val files = t.meta.activeFiles(v)
    if (files.isEmpty) Nil
    else spark.read.option("mergeSchema", "true").parquet(files: _*)
      .filter(col("_v_min") <= v && col("_v_max") > v)
      .select("_rowid", "_v_min", "_v_max").as[(Long, Long, Long)]
      .collect().toSeq.sorted
  }

  private def history(seed: Int, versioned: Boolean): Unit = {
    val cat = new Catalog(java.nio.file.Files.createTempDirectory("graft-live").toString)
    val t = GraftTable.create(spark, cat, s"h$seed", Seq(
      ColumnDef("id", "bigint"), ColumnDef("x", "int")), isVersioned = versioned)
    val rnd = new Random(seed)
    var nextId = 0L
    var extra = Vector.empty[String] // added columns still live
    var added = 0
    def rows(n: Int) = {
      val ids = nextId until nextId + n
      nextId += n
      ids.map(i => (i, rnd.nextInt(100))).toDF("id", "x")
    }
    t.insert(rows(30))
    val ops = Seq("insert", "update", "batchUpdate", "delete", "deleteByKeys",
      "compact", "addColumn", "dropColumn", "renameColumn") ++
      (if (versioned) Seq("revert") else Nil)
    (0 until 16).foreach { step =>
      ops(rnd.nextInt(ops.size)) match {
        case "insert" => t.insert(rows(5 + rnd.nextInt(20)))
        case "update" => t.update(Map("x" -> "x + 1"), s"id % 4 = ${rnd.nextInt(4)}")
        case "batchUpdate" =>
          val keys = Seq.fill(5)(rnd.nextInt(nextId.toInt).toLong).distinct
          t.batchUpdate(keys.map(k => (k, -1)).toDF("id", "x"), Seq("id"),
            ifNotExists = "ignore")
        case "delete" => t.delete(s"id % 9 = ${rnd.nextInt(9)}")
        case "deleteByKeys" =>
          t.deleteByKeys(Seq.fill(4)(rnd.nextInt(nextId.toInt).toLong).toDF("k"), "id")
        case "compact" => t.compact()
        case "addColumn" =>
          added += 1
          val c = s"c$added"
          t.addColumn(if (rnd.nextBoolean()) ColumnDef(c, "int")
            else ColumnDef(c, "int", Some("x * 2"), stored = true))
          extra :+= c
        case "dropColumn" if extra.nonEmpty =>
          val c = extra(rnd.nextInt(extra.size))
          t.dropColumn(c)
          extra = extra.filterNot(_ == c)
        case "renameColumn" if extra.nonEmpty =>
          val c = extra(rnd.nextInt(extra.size))
          added += 1
          t.renameColumn(c, s"r$added")
          extra = extra.map(e => if (e == c) s"r$added" else e)
        case "revert" if t.currentVersion > 1 =>
          t.revert(1 + rnd.nextInt(t.currentVersion.toInt - 1))
          extra = extra.filter(t.meta.liveColumns.map(_.name).contains)
        case _ => t.insert(rows(3))
      }
      if (!versioned) {
        val v = t.currentVersion
        assert(read(t, v) == rowLevel(t, v), s"seed $seed step $step at v$v")
      }
    }
    if (versioned) t.meta.versions.map(_.version).foreach { v =>
      assert(read(t, v) == rowLevel(t, v), s"seed $seed at v$v")
    }
  }

  test("versioned: the live-flag read equals the row-level filter at every version") {
    Seq(1, 2).foreach(history(_, versioned = true))
  }

  test("unversioned: the live-flag read equals the row-level filter after every op") {
    history(3, versioned = false)
  }
}
