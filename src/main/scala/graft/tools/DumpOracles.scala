package graft.tools

/** Dump SparkEntry.oracleSql as JSON without starting Spark — feeds
  * tools/oracle_typecheck.py, the mechanical DuckDB DESCRIBE sweep that
  * fails on any HUGEINT-typed oracle output column (the r5/r6/r7 gate-red
  * class: DuckDB sum(BIGINT) → HUGEINT propagates through arithmetic and
  * hashes differently than the Spark BIGINT even when values agree).
  *
  * Usage: sbt "runMain graft.tools.DumpOracles /tmp/oracle_sql.json"
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    graft.Verify.writeOracleSql(out)
    println(s"[dump-oracles] wrote ${graft.SparkEntry.oracleSql.size} oracle SQLs to $out")
  }
}
