package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` builds the program, starts this JVM
  * with the program's classpath and java options, and turns the raw record
  * this writes into the reported metrics.
  *
  * Args: `--workload registry|table_ops|calibrate|scalecheck --seed N
  * --seconds S --trace 0|1 --work DIR --out FILE --sf DIR --costs FILE`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = opt("workload"),
      seed = opt("seed").toLong,
      seconds = opt("seconds").toDouble,
      trace = opt("trace") == "1",
      work = opt("work"),
      out = opt("out"),
      sf = opt("sf"),
      costs = opt("costs"),
      cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString).toInt)
    new java.io.File(cfg.work).mkdirs()
    val rec = cfg.workload match {
      case "registry" => RegistryWorkload.run(cfg)
      case "table_ops" => TableOpsWorkload.run(cfg)
      case "calibrate" => RegistryWorkload.calibrate(cfg)
      case "scalecheck" => RegistryWorkload.scaleCheck(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.out), Json(rec))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
  }
}

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, sf: String, costs: String,
    cpus: Int)

object Session {
  /** The session `graft.Bench` measures with. */
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One timed op as the client saw it. */
final case class OpRec(i: Int, kind: String, family: String, round: Int,
    startMs: Double, latS: Double, ok: Boolean, error: String)

/** Minimal JSON writer for the record handed to `run.py`. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Iterable[_]] =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Log {
  /** Progress line on stderr (the JVM log), stamped with JVM uptime. */
  def apply(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
