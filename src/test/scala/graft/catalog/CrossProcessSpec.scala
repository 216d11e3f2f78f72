package graft.catalog

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Helper main for CrossProcessSpec: each invocation is a SEPARATE JVM
  * writing `n` single-row inserts to the same table, exercising the OS
  * `FileChannel` tier of the writer lock (the JVM `ReentrantLock` tier
  * can't serialize across processes). Prints the versions it committed.
  */
object CrossProcessWriter {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, table, tag, nStr) = args.take(4)
    val n = nStr.toInt
    val spark = graft.Sessions.local(2)
    import spark.implicits._
    val t = GraftTable.open(spark, new Catalog(warehouse), table)
    val vs = (0 until n).map { i =>
      t.insert(Seq((tag.toLong * 1000 + i, tag)).toDF("id", "tag"))
    }
    // parent parses this line; anything else on stdout is Spark noise
    println("VERSIONS " + vs.mkString(","))
    spark.stop()
    sys.exit(0)
  }
}

/** Two real JVMs hammer one table concurrently: serialization must come
  * from the OS file lock + CAS, not in-process mutexes. (The thread-level
  * twin lives in GraftTableSpec; reference behavior:
  * `/root/reference/pixeltable/tests/test_concurrent.py` over Postgres.)
  */
class CrossProcessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("concurrent inserts from two separate JVMs serialize losslessly") {
    val wh = java.nio.file.Files.createTempDirectory("graft-xproc").toString
    val cat = new Catalog(wh)
    GraftTable.create(spark, cat, "xp", Seq(
      ColumnDef("id", "bigint"), ColumnDef("tag", "string"),
      ColumnDef("tag_u", "string", computedExpr = Some("upper(tag)"))))

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // forward this JVM's --add-opens flags (Spark-on-JDK17 needs them)
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
      .toSeq
    val perProc = 3
    def launch(tag: String): (Process, java.io.File) = {
      val out = java.io.File.createTempFile(s"xproc-$tag", ".log")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx3g", "-cp", cp,
        "graft.catalog.CrossProcessWriter", wh, "xp", tag, perProc.toString))
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (pb.start(), out)
    }
    val procs = Seq(launch("1"), launch("2"))
    procs.foreach { case (p, _) =>
      assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), "writer JVM timed out")
      assert(p.exitValue() == 0, "writer JVM failed")
    }
    val versions = procs.flatMap { case (_, f) =>
      val line = scala.io.Source.fromFile(f).getLines()
        .find(_.startsWith("VERSIONS "))
        .getOrElse(fail(s"no VERSIONS line in ${f.getPath}"))
      line.stripPrefix("VERSIONS ").split(",").map(_.toLong).toSeq
    }
    // every commit won a distinct, gap-free version across BOTH processes
    assert(versions.sorted == (1L to (2L * perProc)).toSeq,
      s"versions not gap-free: $versions")
    val t = GraftTable.open(spark, cat, "xp")
    val rows = t.read().collect()
    assert(rows.length == 2 * perProc)
    assert(t.read().select("id").distinct().count() == 2L * perProc)
    assert(t.readWithSystem().select(GraftTable.RowId).distinct().count()
      == 2L * perProc)
    assert(rows.forall(r =>
      r.getAs[String]("tag_u") == r.getAs[String]("tag").toUpperCase))
  }
}
