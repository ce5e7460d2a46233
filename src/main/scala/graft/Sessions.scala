package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession construction for every entry point (Verify, Bench,
  * Probe, tests). Session-scoped configuration lives HERE, not inside table
  * loaders or queries — a loader that flips session conf mid-query silently
  * changes the semantics of every later read (see ADVICE r1 on
  * `nanosAsLong`).
  *
  * Scale posture: `spark.sql.shuffle.partitions` tracks core count locally;
  * on a real cluster AQE coalesces/splits post-shuffle partitions at runtime,
  * so the static number only seeds the initial plan.
  */
object Sessions {

  /** Default parallelism: env override, else the live machine's cores. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def local(threads: String = cpus, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects natively;
      // read as raw nanos longs (Tables.events truncates to micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE on: runtime shuffle coalescing, skew-join splitting, and
      // broadcast demotion — the knobs that make the same plan survive a
      // 1000-executor cluster.
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE re-partition CACHED plans too: iterative algorithms
      // (dd_components' label propagation) persist tiny frames every round,
      // and without this the cache pins them at the static shuffle
      // partition count — 32 near-empty tasks per round of a 47-node graph.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // custom Catalyst expressions (graft_rolling_hash, …)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Survive host-level stalls: round 4's driver bench died in a
      // heartbeat-timeout cascade ("Cannot receive any reply in 10000 ms",
      // rc=124) when the VM was IO-throttled. A single-JVM local master
      // gains nothing from 10 s liveness detection — widen the windows so
      // a multi-second GC/IO pause degrades throughput instead of killing
      // the executor RPC loop. (heartbeatInterval must stay < network
      // timeout; 60 s vs 600 s.)
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.rpc.askTimeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns "No Partition Defined for Window" on EVERY
    // unpartitioned window, including the provably-bounded ones this engine
    // deliberately plans (GlobalScalarToWindow's scalar decoration and the
    // |domains|-row mixture windows — all post-aggregate frames). The
    // corpus-sized case is excluded STATICALLY: QuerySmokeSpec's
    // "unpartitioned window (scale guard)" walks every declared query's
    // optimized plan and fails the build if an unpartitioned window's input
    // is not bounded below by a provably-small frame. With the exact
    // plan-level invariant enforced, the runtime heuristic is noise — but
    // ONLY that one message: a RegexFilter on the window-exec logger DENYs
    // the heuristic and stays NEUTRAL for everything else, so future
    // spill / byte-limit WARNs from the same package remain visible
    // (the r10 advice: a package-level ERROR override ate those too).
    locally {
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val conf = ctx.getConfiguration
      val name = "org.apache.spark.sql.execution.window"
      val lc = conf.getLoggerConfig(name) match {
        case exact if exact.getName == name => exact
        case parent =>
          val fresh = new LoggerConfig(name, parent.getLevel, true)
          conf.addLogger(name, fresh)
          fresh
      }
      lc.addFilter(RegexFilter.createFilter(
        ".*No Partition Defined for Window.*", null, java.lang.Boolean.FALSE,
        Filter.Result.DENY, Filter.Result.NEUTRAL))
      ctx.updateLoggers()
    }
    spark
  }
}
