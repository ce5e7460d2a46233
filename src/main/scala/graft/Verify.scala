package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (learned from round 4, where the driver's budget
  * expired and the round recorded `{}`): the dump must DEGRADE, not vanish.
  *  - oracle_sql.json is written FIRST, before any query runs — if the
  *    process is killed mid-run, every query dir already on disk is still
  *    checkable (partial correctness beats zero correctness);
  *  - each query gets a hard watchdog (default 300 s, SPARK_GRAFT_Q_TIMEOUT
  *    to override): one pathological plan cannot eat the whole budget —
  *    its jobs are cancelled and the run moves on;
  *  - a crashed/timed-out query still fails the gate via exit code 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (builder-side
    // iteration aid; the driver always passes exactly two args)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = Sessions.local(appName = "graft-verify")
    // wipe the output dir: a stale query dir from a previous run would be
    // compared by the oracle checker and mask a now-crashing query
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmRf)
      f.delete(); ()
    }
    rmRf(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson())
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_Q_TIMEOUT", "300").toInt
    var failed = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1))).foreach { case (name, fn) =>
      Watchdog.run(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        case Right(_) => ()
        case Left(err) =>
          failed ::= name
          System.err.println(s"[verify] $name failed: $err")
          // a timed-out query may have written a partial dir; remove it so
          // the checker reports the query missing rather than wrong-rows
          rmRf(new java.io.File(s"$outDir/$name"))
      }
    }
    spark.stop()
    // a crashed query must fail the gate, not silently vanish from it
    // (the checker only iterates dirs that exist)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** oracle_sql.json content for the queries `keep` selects (all by
    * default), in `SparkEntry.oracleSql`'s iteration order.
    */
  def oracleJson(keep: String => Boolean = _ => true): String =
    SparkEntry.oracleSql.view.filterKeys(keep)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  /** A JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
