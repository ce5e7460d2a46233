package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.graft.ListenerBus
import graft.TestSpark

/** The partition-pruned anti-join contract: when the sink's partition
  * columns are a subset of the conflict key, the existing-side scan reads
  * only the partitions the batch touches (PartitionFilters on the scan);
  * when they are not, pruning would be unsound (the same global key may
  * live under another partition) and the full sink is scanned. An append
  * evaluates the batch's source plan once, writes only materialized
  * blocks, and releases them afterwards.
  */
class DedupSinkPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("sink_prune").toString + "/sink"

  test("existing scan is partition-pruned when partition cols are in the key") {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"), ("initech", 3L, "c"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))

    val batch = Seq(("acme", 9L, "z")).toDF("company_name", "rid", "payload")
    val scan = DedupSink.existingKeys(
      spark, path, batch, Seq("company_name", "rid"), Seq("company_name"))
    val fileScan = scan.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(fileScan.contains("PartitionFilters") && fileScan.contains("acme"),
      s"expected a partition filter on the touched company:\n$fileScan")
    assert(scan.select("company_name").distinct().as[String].collect().toSet == Set("acme"))
  }

  test("global-key sink scans all partitions and stays idempotent") {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))

    // rid=2 already exists, but under ANOTHER company's partition: pruning
    // to the batch's partitions would miss it and double-insert.
    val batch = Seq(("acme", 2L, "dup-under-other-company"))
      .toDF("company_name", "rid", "payload")
    val scan = DedupSink.existingKeys(spark, path, batch, Seq("rid"), Seq("company_name"))
    assert(scan.count() == 2, "global-key anti-join must see every partition")
    val res = DedupSink.append(spark, path, batch, Seq("rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))
    assert(res.inserted == 0)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("empty first batch does not poison a partitioned sink") {
    import org.apache.spark.sql.types._
    val path = tmp()
    val schema = StructType(Seq(
      StructField("company_name", StringType), StructField("rid", LongType),
      StructField("payload", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // first run: nothing eligible → a partitioned write of 0 rows would
    // leave a schema-less dir and wedge the platform forever
    DedupSink.append(spark, path, empty, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))
    assert(spark.read.parquet(path).count() == 0) // readable, right schema

    // the first REAL batch replaces the marker and appends normally
    val batch = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    val res = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(res.inserted == 2)
    assert(spark.read.parquet(path).count() == 2)
    // layout is cleanly partitioned again (no root marker left behind)
    val again = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(again.inserted == 0)
  }

  test("pruned append inserts fresh rows and skips existing ones per partition") {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))

    val batch = Seq(("acme", 1L, "dup"), ("acme", 9L, "new"))
      .toDF("company_name", "rid", "payload")
    val res = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(res.inserted == 1)
    assert(spark.read.parquet(path).count() == 3)
  }

  private def seeded(): String = {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))
    path
  }

  test("a prunable append evaluates the batch's source once") {
    val path = seeded()
    val evaluated = spark.sparkContext.longAccumulator("batch-rows")
    val bump = udf { (_: Long) => evaluated.add(1L); true }
    // an RDD source, not a local Seq: the optimizer folds filters over
    // local relations on the driver, once per planning
    val batch = spark.sparkContext
      .parallelize(Seq(("acme", 1L, "dup"), ("acme", 9L, "new"), ("initech", 5L, "new")), 2)
      .toDF("company_name", "rid", "payload")
      .filter(bump(col("rid")))
    val res = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), groupCol = Some("company_name"), partitionBy = Seq("company_name"))
    assert(res == AppendResult(2L, Map("acme" -> 1L, "initech" -> 1L)))
    assert(evaluated.value == 3L,
      s"the batch's 3 source rows were evaluated ${evaluated.value} times")
  }

  test("the sink write reads no file under the sink path") {
    val path = seeded()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val batch = Seq(("acme", 1L, "dup"), ("acme", 9L, "new"))
        .toDF("company_name", "rid", "payload")
      val res = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
        Seq(col("rid")), partitionBy = Seq("company_name"))
      assert(res.inserted == 1)
      ListenerBus.drain(spark.sparkContext)
      val writes = plans.toArray.map(_.toString)
        .filter(_.contains("InsertIntoHadoopFsRelationCommand"))
      assert(writes.length == 1, s"expected one sink write, saw ${writes.length}")
      val sinkScans = writes.head.linesIterator
        .filter(l => l.contains("FileScan") && l.contains(path)).toSeq
      assert(sinkScans.isEmpty, s"the write re-reads the sink:\n${writes.head}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("append releases its checkpoint blocks") {
    val path = seeded()
    val sc = spark.sparkContext
    // compared by id: the context cleaner may drop other suites' RDDs meanwhile
    def leaked(before: Set[Int]) = sc.getPersistentRDDs.keySet.toSet -- before
    val before = sc.getPersistentRDDs.keySet.toSet
    val batch = Seq(("acme", 1L, "dup"), ("acme", 9L, "new"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(leaked(before).isEmpty)
    // and on a failing write: a sink path that is a plain file
    val blocked = java.nio.file.Files.createTempFile("sink_prune", ".file").toString
    intercept[Exception] {
      DedupSink.append(spark, blocked, batch, Seq("company_name", "rid"),
        Seq(col("rid")), partitionBy = Seq("company_name"))
    }
    assert(leaked(before).isEmpty)
  }
}
