package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-only: dump SparkEntry.oracleSql as oracle_sql.json WITHOUT running
  * any Spark query — for profiling the DuckDB side of the gate alone.
  * Usage: runMain graft.tools.DumpOracle <outFile>
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val Array(out) = args
    Files.writeString(Paths.get(out), graft.Verify.oracleJson())
    ()
  }
}
