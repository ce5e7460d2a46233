package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Sessions, SparkEntry, Watchdog}
import graft.ingest.{Catchup, General, IngestJob, Pipelines, Scheduler}
import graft.schema.Schemas

/** The benchmark's JVM side. It drives the program only through public
  * entry points (`IngestJob.runWithRetry`, `Scheduler.tick`,
  * `SparkEntry.queries`, `SparkEntry.prestage`) and writes one JSON run
  * record; `perfbench/run.py` turns the record into metrics and verdicts.
  *
  * Arguments, as `--name value`:
  *   launched-ms  epoch ms at which the JVM was launched; set-up counts from it
  *   workload   ingest | catalog
  *   seed       input seed (ingest corpus; catalog query order)
  *   seconds    minimum timed wall: whole passes run until it has elapsed
  *   trace      1 registers the listeners of `Tracer`
  *   work       scratch directory (created, owned by the run)
  *   data       catalog input tables (catalog only)
  *   queries    comma-separated query names (catalog only)
  *   cores      Spark local[N] threads
  *   out        run record path
  */
object Main {

  private val WarmupPlatforms = Set("twitter", "trustpilot", "instagram")
  /** Tenants of the ingest corpus: a fifth of the probe's 30 (see
    * `IngestCorpus`), so a run fits the benchmark's time budget. */
  private val Tenants = 6
  /** General ticks after the catch-up tick in each ingest pass. */
  private val GeneralTicks = 2

  final case class Op(
      pass: Int, name: String, phase: String, start: Long, end: Long,
      error: Option[String], extra: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchedMs = args("launched-ms").toLong
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val opTimeoutSec = 90

    val t0 = System.currentTimeMillis()
    val spark = Sessions.local(threads = cores.toString, appName = "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = (System.currentTimeMillis() - t0) / 1e3
    // the live context's parallelism, not the env default
    val liveCores = spark.sparkContext.defaultParallelism

    val ingest = args("workload") == "ingest"
    val tracer =
      if (trace) Some(new Tracer(spark).start()) else None

    val ops = mutable.ArrayBuffer.empty[Op]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val setup = mutable.LinkedHashMap[String, Any]("sessions.build_s" -> buildS)
    val extra = mutable.LinkedHashMap.empty[String, Any]

    def timedOp(pass: Int, name: String, phase: String)(body: => Map[String, Any]): Unit = {
      val s = System.currentTimeMillis()
      val r = Watchdog.run(spark, name, opTimeoutSec)(body)
      ops += Op(pass, name, phase, s, System.currentTimeMillis(), r.left.toOption, r.toOption.getOrElse(Map.empty))
    }

    var firstOpMs = 0L
    def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .iterator().asScala.map(_.getCollectionTime).sum
    var timedGcMs = 0L
    // the largest live heap seen at an untimed boundary (see liveHeapMb)
    var liveHeapPeakMb = 0.0
    def markLive(): Unit = liveHeapPeakMb = math.max(liveHeapPeakMb, liveHeapMb())

    if (ingest) {
      val specs = Pipelines.specs _

      def runTick(c: IngestCorpus, pass: Int, tick: Int): Unit = {
        val mode = if (tick == 0) Catchup() else General()
        val phase = if (tick == 0) "catchup" else "steady"
        specs(c.fixturesDir).foreach { spec =>
          timedOp(pass, s"t$tick/${spec.platform}", phase) {
            IngestJob.runWithRetry(spark, c.usersPath, c.warehouse, spec, mode, c.clock(tick)) match {
              case Right(r) => Map("tick" -> tick, "platform" -> spec.platform,
                "inserted" -> r.inserted, "per_tenant" -> r.perCompany)
              case Left(err) => throw new RuntimeException(err)
            }
          }
        }
      }

      def watermarkState(c: IngestCorpus): Map[String, Long] =
        spark.read.parquet(c.usersPath).collect().flatMap { r =>
          val name = r.getAs[String]("company_name")
          Schemas.platforms.flatMap { p =>
            Option(r.getAs[java.sql.Timestamp](s"last_fetched_$p")).map(ts => s"$name|$p" -> ts.getTime)
          }
        }.toMap

      // warm-up: a throwaway catch-up on a one-tenant corpus, for one
      // platform per connector path (JSON scan, DSv2 scan, async poll)
      val tw = System.currentTimeMillis()
      locally {
        val w = new IngestCorpus(s"$work/ingest/warmup", seed + 7919, 1)
        w.writeUsers(spark); w.deliver(0)
        specs(w.fixturesDir).filter(s => WarmupPlatforms(s.platform))
          .foreach(s => IngestJob.runWithRetry(spark, w.usersPath, w.warehouse, s, Catchup(), w.clock(0)))
      }
      setup("setup.warmup_s") = (System.currentTimeMillis() - tw) / 1e3
      setup("sparkentry.prestage_s") = 0.0

      var pass = 0
      var timedWall = 0.0
      val states = mutable.ArrayBuffer.empty[Map[String, Any]]
      while (pass == 0 || timedWall < seconds) {
        val ti = System.currentTimeMillis()
        val c = new IngestCorpus(s"$work/ingest/pass$pass", seed, Tenants)
        c.writeUsers(spark)
        c.deliver(0)
        if (pass == 0) {
          setup("setup.inputs_s") = (System.currentTimeMillis() - ti) / 1e3
          markLive()
          firstOpMs = System.currentTimeMillis()
        }
        var wall = 0.0
        var bootstrap = 0.0
        for (tick <- 0 to GeneralTicks) {
          if (tick > 0) c.deliver(tick) // untimed: the sources' next delivery
          val before = watermarkState(c)
          val gc0 = gcMs
          val s = System.currentTimeMillis()
          runTick(c, pass, tick)
          val tickS = (System.currentTimeMillis() - s) / 1e3
          timedGcMs += gcMs - gc0
          wall += tickS
          if (tick == 0) bootstrap = tickS
          val after = watermarkState(c)
          states += Map("pass" -> pass, "tick" -> tick, "at" -> c.clock(tick).getTime,
            "before" -> before, "after" -> after,
            "expected" -> c.watermarks.map { case ((n, p), w) => s"$n|$p" -> w })
          markLive()
        }
        timedWall += wall
        // untimed end-of-pass checks
        val sinkRows = Schemas.sinks.keys.toSeq.sorted.flatMap { sink =>
          val path = s"${c.warehouse}/$sink"
          if (!new java.io.File(path).exists()) None
          else {
            val key = Schemas.sinks(sink)._2
            val df = spark.read.parquet(path)
            val dups = df.groupBy(key.map(col): _*).count().filter(col("count") > 1).count()
            Some(sink -> Map("rows" -> df.count(), "dup_keys" -> dups,
              "files" -> countFiles(new java.io.File(path))))
          }
        }.toMap
        val retick = new Scheduler(spark, c.usersPath, c.warehouse, c.fixturesDir, () => c.clock(GeneralTicks))
          .tick(General())
        passes += Map(
          "pass" -> pass, "wall_s" -> wall, "bootstrap_s" -> bootstrap,
          "delivered" -> c.ledgerRows.map(_.delivered).sum,
          "ledger" -> c.ledgerRows.map(l => Map(
            "tick" -> l.tick, "platform" -> l.platform, "new" -> l.newKeys,
            "reserved" -> l.reserved, "malformed" -> l.malformed, "filtered" -> l.filtered,
            "delivered" -> l.delivered, "per_tenant" -> l.perTenant)),
          "sinks" -> sinkRows,
          "retick" -> Map("inserted" -> retick.inserted, "failures" -> retick.failures))
        pass += 1
      }
      extra("watermark_states") = states.toVector
    } else {
      val names = args("queries").split(",").toSeq
      val order = new scala.util.Random(seed).shuffle(names)
      val fns = SparkEntry.queries
      val unknown = names.filterNot(fns.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

      def stage(src: String, dst: String): String = {
        val d = Paths.get(dst)
        Files.createDirectories(d)
        Files.list(Paths.get(src)).iterator().asScala.foreach { f =>
          Files.copy(f, d.resolve(f.getFileName), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        d.toString
      }

      val ti = System.currentTimeMillis()
      var dir = stage(args("data"), s"$work/catalog/pass0")
      setup("setup.inputs_s") = (System.currentTimeMillis() - ti) / 1e3
      // No separate warm-up: the prestage hooks below run tens of Spark jobs
      // over the workload's own tables before the first timed query, which
      // warms the JIT and codegen paths the queries share.
      setup("setup.warmup_s") = 0.0

      val prestageByQuery = mutable.LinkedHashMap.empty[String, Double]
      def prestage(d: String): Double = {
        val tp = System.currentTimeMillis()
        order.foreach { n =>
          SparkEntry.prestage.get(n).foreach { h =>
            val th = System.currentTimeMillis()
            Watchdog.run(spark, s"$n-prestage", opTimeoutSec)(h(spark, d)).left.foreach { e =>
              checks += Map("op" -> n, "check" -> "prestage", "ok" -> false, "detail" -> e)
            }
            prestageByQuery(n) = (System.currentTimeMillis() - th) / 1e3
          }
        }
        (System.currentTimeMillis() - tp) / 1e3
      }
      setup("sparkentry.prestage_s") = prestage(dir)
      extra("prestage_by_query") = prestageByQuery.clone()
      markLive()
      firstOpMs = System.currentTimeMillis()

      var pass = 0
      var timedWall = 0.0
      while (pass == 0 || timedWall < seconds) {
        if (pass > 0) { // a fresh copy keeps every memo cold, like the first pass
          dir = stage(args("data"), s"$work/catalog/pass$pass")
          prestage(dir)
        }
        val gc0 = gcMs
        val s = System.currentTimeMillis()
        order.foreach { n =>
          timedOp(pass, n, "query") {
            val (rows, fp) = Fingerprint.of(fns(n)(spark, dir))
            Map("rows" -> rows, "fingerprint" -> fp)
          }
        }
        val wall = (System.currentTimeMillis() - s) / 1e3
        timedGcMs += gcMs - gc0
        markLive()
        timedWall += wall
        passes += Map("pass" -> pass, "wall_s" -> wall,
          "delivered" -> ops.filter(_.pass == pass).flatMap(_.extra.get("rows")).map(_.asInstanceOf[Long]).sum)
        pass += 1
      }
    }

    val traceRecord = tracer.map(t => t.record + ("memo_mb_resident" -> t.residentMb()))
    tracer.foreach(_.stop())
    val heapAfterGc = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val nativeMb = nativePeakMb
    val record = Map(
      "workload" -> args("workload"), "seed" -> seed, "cores" -> liveCores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "launched_ms" -> launchedMs, "first_op_ms" -> firstOpMs,
      "setup" -> setup, "passes" -> passes.toVector,
      "ops" -> ops.toVector.map(o => Map(
        "pass" -> o.pass, "name" -> o.name, "phase" -> o.phase, "start" -> o.start,
        "end" -> o.end, "error" -> o.error) ++ o.extra),
      "checks" -> checks.toVector,
      "jvm" -> Map("gc_s" -> timedGcMs / 1e3, "heap_after_gc_mb" -> heapAfterGc,
        "rss_peak_mb" -> (nativeMb + liveHeapPeakMb), "native_peak_mb" -> nativeMb,
        "live_heap_peak_mb" -> liveHeapPeakMb),
      "trace" -> traceRecord) ++ extra
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record)
    Files.write(Paths.get(args("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def countFiles(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  /** Heap in use after a full collection: what the program holds live.
    * Called only between timed regions (the collection takes ~0.5 s). */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** High-water resident set of this process outside the Java heap: the
    * VmHWM of /proc minus the committed heap, which the pre-touched heap
    * keeps wholly resident (0 if /proc is absent). */
  private def nativePeakMb: Double = {
    val hwm =
      try {
        scala.io.Source.fromFile("/proc/self/status").getLines()
          .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      } catch { case _: Throwable => 0.0 }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    math.max(0.0, hwm - heap / 1048576.0)
  }
}

/** Order-insensitive fingerprint of a query's full output: the row count,
  * the DECIMAL sum and the XOR of a 64-bit hash over every column. The
  * hash reads every column, so Catalyst cannot prune any of them. */
object Fingerprint {
  private def hashable(f: StructField): Column =
    if (hasMap(f.dataType)) to_json(struct(col(s"`${f.name}`"))) else col(s"`${f.name}`")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(x => hasMap(x.dataType))
    case _ => false
  }

  def of(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.schema.fields.toSeq.map(hashable): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .collect()(0)
    val n = r.getLong(0)
    (n, s"$n:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}:${if (r.isNullAt(2)) 0L else r.getLong(2)}")
  }
}
