package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-only: the Verify dump restricted to a comma-separated subset of
  * queries — same parquet + oracle_sql.json layout, so
  * `tools/check_oracle.py <sfDir> <outDir>` gates just the subset.
  * Usage: runMain graft.tools.VerifyOne <sfDir> <outDir> <q1>[,<q2>...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, list) = args
    val names = list.split(",").toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val spark = graft.Sessions.local(appName = "graft-verify-one")
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmRf)
      f.delete(); ()
    }
    rmRf(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.Verify.oracleJson(names.contains))
    spark.stop()
  }
}
