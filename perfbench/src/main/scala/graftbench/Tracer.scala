package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Listeners the benchmark registers from outside the program. They keep
  * raw events in memory (jobs with their call sites, per-stage task
  * totals, one record per Dataset action, RDD block writes, streaming
  * progress); `record` writes them out at the end of the run, and the
  * benchmark's reporting code turns them into spans and per-layer figures.
  * Every timestamp is epoch milliseconds, the clock op spans use.
  */
final class Tracer(spark: SparkSession) {

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val execs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val blocks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val streams = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally { listenerNs.addAndGet(System.nanoTime() - t); () }
  }

  // per-stage task accumulators, in this order
  private val Tasks = 0; private val RunMs = 1; private val CpuNs = 2; private val GcMs = 3
  private val SchedMs = 4; private val ShufR = 5; private val ShufW = 6; private val Spill = 7

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      // the result stage carries the job's call site: `name` is the short
      // form ("collect at DedupSink.scala:139"), `details` the user stack
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      jobStart.put(e.jobId, Map(
        "id" -> e.jobId, "start" -> e.time, "stages" -> e.stageIds,
        "callsite" -> result.map(_.name).getOrElse(""),
        "callsite_long" -> result.map(_.details.linesIterator.take(12).mkString("\n")).getOrElse(""),
        // AQE submits query-stage jobs from a pool thread, without the
        // user call site; the root SQL execution ties them to the action
        "exec_id" -> Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
          .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k)))).headOption.getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach { j =>
        jobs.add(j ++ Map("end" -> e.time, "ok" -> (e.jobResult == JobSucceeded)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = stageAcc.computeIfAbsent(e.stageId, _ => new Array[Long](8))
      val m = e.taskMetrics
      val i = e.taskInfo
      a.synchronized {
        a(Tasks) += 1
        if (m != null) {
          a(RunMs) += m.executorRunTime
          a(CpuNs) += m.executorCpuTime
          a(GcMs) += m.jvmGCTime
          a(ShufR) += m.shuffleReadMetrics.totalBytesRead
          a(ShufW) += m.shuffleWriteMetrics.bytesWritten
          a(Spill) += m.memoryBytesSpilled + m.diskBytesSpilled
          val fetchResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          a(SchedMs) += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - fetchResult)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = e.stageInfo
      val a = Option(stageAcc.remove(s.stageId)).getOrElse(new Array[Long](8))
      val scopes = s.rddInfos.flatMap(_.scope.map(_.name))
      stages.add(Map(
        "id" -> s.stageId, "tasks" -> a(Tasks), "task_ms" -> a(RunMs), "cpu_ns" -> a(CpuNs),
        "gc_ms" -> a(GcMs), "sched_ms" -> a(SchedMs), "shuffle_read_b" -> a(ShufR),
        "shuffle_write_b" -> a(ShufW), "spill_b" -> a(Spill),
        "source_scan" -> scopes.exists(n => n.startsWith("Scan json") || n.startsWith("BatchScan"))))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        blocks.add(Map("t" -> System.currentTimeMillis(), "bytes" -> (b.memSize + b.diskSize)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(execs.add(describe(funcName, qe, durationNs, ok = true)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(execs.add(describe(funcName, qe, 0L, ok = false)))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      streams.add(Map(
        "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "query" -> p.id.toString, "batch_ms" -> p.batchDuration,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def start(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Deliver every posted event before anything is read. */
  def drain(): Unit = org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)

  /** MB of RDD blocks (localCheckpoint, cache, PlanCache) held right now. */
  def residentMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  // ---- one record per Dataset action ----

  /** Ingest corpora keep their sinks under `warehouse/` and the control
    * table at `users` (written through `users.tmp`). */
  private def isSink(path: String): Boolean = path.contains("/warehouse/")
  private def isUsers(path: String): Boolean = path.matches(".*/users(\\.tmp)?/?$")

  /** Plan nodes below `p`, descending into AQE stages. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val here = Iterator.single(p)
    val below = p match {
      case a: AdaptiveSparkPlanExec => Iterator.single(a.executedPlan)
      case q: QueryStageExec => Iterator.single(q.plan)
      case other => other.children.iterator ++ other.subqueries.iterator
    }
    here ++ below.flatMap(nodes)
  }

  /** Rows flowing out of the nearest row-counting operators at or below
    * `p`. Window group limits are skipped: they are the window's own
    * partial (map-side) step, not its input. */
  private def rowsInto(p: SparkPlan): Long = p match {
    case _: WindowGroupLimitExec => p.children.map(rowsInto).sum
    case n if n.metrics.contains("numOutputRows") => metric(n, "numOutputRows")
    case a: AdaptiveSparkPlanExec => rowsInto(a.executedPlan)
    case q: QueryStageExec => rowsInto(q.plan)
    case n => n.children.map(rowsInto).sum
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def describe(func: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Map[String, Any] = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val all = try nodes(qe.executedPlan).toVector catch { case _: Throwable => Vector.empty }
    var srcFiles, srcRows, sinkFiles, windowRows = 0L
    val writes = mutable.ArrayBuffer.empty[Map[String, Any]]
    all.foreach {
      case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[JsonFileFormat] =>
        srcFiles += metric(f, "numFiles"); srcRows += metric(f, "numOutputRows")
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(r => isSink(r.toString)) =>
        sinkFiles += metric(f, "numFiles")
      case b: BatchScanExec if b.scan.getClass.getName.contains("Fixture") =>
        srcFiles += b.inputPartitions.size; srcRows += metric(b, "numOutputRows")
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          val path = c.outputPath.toString
          writes += Map(
            "target" -> (if (isSink(path)) "sink" else if (isUsers(path)) "users" else "other"),
            "files" -> metric(w, "numFiles"), "bytes" -> metric(w, "numOutputBytes"),
            "rows" -> metric(w, "numOutputRows"))
        case _ =>
      }
      case _ =>
    }
    // rows offered to the dedup sink's key window (the outermost window;
    // the connector's cap window sits below it)
    all.collectFirst { case w: WindowExec => w }.foreach(w => windowRows = w.children.map(rowsInto).sum)
    Map(
      "exec_id" -> qe.id, "func" -> func, "ok" -> ok, "end" -> System.currentTimeMillis(),
      "start" -> Option(execStart.get(qe.id)).getOrElse(0L),
      "duration_ms" -> durationNs / 1000000L, "plan_ms" -> planMs,
      "src_files" -> srcFiles, "src_rows" -> srcRows, "sink_files_scanned" -> sinkFiles,
      "window_rows" -> windowRows, "writes" -> writes.toVector)
  }

  def record: Map[String, Any] = {
    drain()
    Map(
      "jobs" -> jobs.asScala.toVector, "stages" -> stages.asScala.toVector,
      "execs" -> execs.asScala.toVector, "blocks" -> blocks.asScala.toVector,
      "streams" -> streams.asScala.toVector, "listener_s" -> listenerNs.get / 1e9)
  }
}
