package graft.io

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet footers read on the driver: metadata I/O, no Spark job. */
object ParquetFooters {
  /** `f` over each file's footer. All files open under one Hadoop conf and
    * one set of read options: building them per file re-parses the Hadoop
    * configuration every time.
    */
  def map[A](spark: SparkSession, files: Seq[String])(
      f: (String, ParquetMetadata) => A): Seq[A] = {
    val conf = spark.sessionState.newHadoopConf()
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    files.map { file =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(file), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, options)
      try f(file, r.getFooter) finally r.close()
    }
  }

  /** The Spark schema a footer carries, as schema inference reads it: the
    * schema Spark logged in it, else the parquet schema converted under the
    * session conf as it is now (`nanosAsLong`, `binaryAsString`, ...).
    */
  def schema(spark: SparkSession, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(null, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The schema `spark.read.parquet(path)` reports (every field nullable),
    * without the Spark job its schema inference runs. `path` is a parquet
    * file or a directory of them; a directory is read, as that inference
    * reads it, from one data file, here the first by name.
    */
  def schemaAt(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val file =
      if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).map(_.getPath)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .minBy(_.getName)
    org.apache.spark.sql.GraftSchemas.nullable(
      map(spark, Seq(file.toString))((_, f) => schema(spark, f)).head)
  }
}
