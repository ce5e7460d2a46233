package graft.analytics

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The one memo's contract (r8 advice): an entry keyed only by
  * (session, dir) kept serving STALE data after the files under `dir` were
  * rewritten (the planted-corpus test pattern), and evicted entries leaked
  * their executor cache. PlanCache must rebuild on content change, serve
  * the memo otherwise, and free the blocks of every entry it drops — for
  * frames and sink paths alike, and for builds that nest.
  */
class PlanCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeCorpus(dir: String, values: Seq[Long]): Unit = {
    import spark.implicits._
    values.toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
  }

  test("memo hit on unchanged files; rebuild when the directory content changes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plancache").toString
    writeCorpus(dir, Seq(1L, 2L, 3L))
    var builds = 0
    def table() = PlanCache.cached(spark, dir, "spec") {
      builds += 1
      spark.read.parquet(s"$dir/t.parquet")
    }
    assert(table().count() == 3 && builds == 1)
    assert(table().count() == 3 && builds == 1, "unchanged dir must memo-hit")
    // rewrite the corpus in place — the planted-corpus pattern
    writeCorpus(dir, Seq(1L, 2L, 3L, 4L, 5L))
    assert(table().count() == 5, "stale cache served after rewrite")
    assert(builds == 2, "content change must rebuild exactly once")
    assert(table().count() == 5 && builds == 2)
  }

  test("invalidate drops every entry under the dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plancache2").toString
    writeCorpus(dir, Seq(7L))
    var builds = 0
    def table() = PlanCache.cached(spark, dir, "spec2") {
      builds += 1
      spark.read.parquet(s"$dir/t.parquet")
    }
    assert(table().count() == 1 && builds == 1)
    PlanCache.invalidate(dir)
    assert(table().count() == 1 && builds == 2, "invalidate must force a rebuild")
  }

  /** The RDD ids `materialize` adds to the persistent set. */
  private def blocksOf(materialize: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    materialize
    sc.getPersistentRDDs.keySet.toSet -- before
  }

  /** `table(dir)` is a memoized frame over `dir`'s corpus. */
  private def assertReleased(kind: String, table: String => DataFrame): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plancache-rel").toString
    writeCorpus(dir, Seq(1L, 2L))
    def live = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val first = blocksOf(table(dir).count())
    assert(first.nonEmpty, s"the $kind build registered no blocks")
    // a fingerprint change supersedes the entry
    writeCorpus(dir, Seq(1L, 2L, 3L))
    val second = blocksOf(assert(table(dir).count() == 3))
    assert((first & live).isEmpty, s"superseded $kind entry kept its blocks")
    assert(second.nonEmpty)
    PlanCache.invalidate(dir)
    assert((second & live).isEmpty, s"invalidated $kind entry kept its blocks")
  }

  test("supersede and invalidate free persisted blocks") {
    assertReleased("persisted", dir =>
      PlanCache.cached(spark, dir, "rel")(spark.read.parquet(s"$dir/t.parquet")))
  }

  test("supersede and invalidate free checkpoint blocks") {
    assertReleased("checkpointed", dir =>
      PlanCache.frame(spark, dir, "rel") {
        spark.read.parquet(s"$dir/t.parquet").localCheckpoint(true)
      })
  }

  test("a path entry builds once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plancache-path").toString
    writeCorpus(dir, Seq(1L))
    var builds = 0
    def ensure(): String = PlanCache.memo(dir, "sink") { builds += 1; s"$dir/sink" }
    assert(ensure() == s"$dir/sink" && builds == 1)
    assert(ensure() == s"$dir/sink" && builds == 1, "unchanged dir must memo-hit")
  }

  test("a path entry rebuilds after its dir is rewritten") {
    // a sink derived from the corpus must not outlive the corpus it was
    // built from: the frames it reads detect the rewrite, so must it
    val dir = java.nio.file.Files.createTempDirectory("graft-plancache-path2").toString
    writeCorpus(dir, Seq(1L, 2L))
    var builds = 0
    def ensure(): Long = PlanCache.memo(dir, "rows") {
      builds += 1
      spark.read.parquet(s"$dir/t.parquet").count()
    }
    assert(ensure() == 2 && builds == 1)
    writeCorpus(dir, Seq(1L, 2L, 3L))
    assert(ensure() == 3, "stale path entry served after rewrite")
    assert(builds == 2 && ensure() == 3 && builds == 2)
  }

  test("a nested build builds each entry exactly once") {
    // ensureBandSink -> bandTable: a path entry whose build reads a
    // memoized frame (a build inside ConcurrentHashMap.computeIfAbsent
    // would throw "Recursive update" here)
    val dir = java.nio.file.Files.createTempDirectory("graft-plancache-nest").toString
    writeCorpus(dir, Seq(4L, 5L, 6L))
    var inner = 0
    var outer = 0
    def frame() = PlanCache.cached(spark, dir, "inner") {
      inner += 1
      spark.read.parquet(s"$dir/t.parquet")
    }
    def ensure(): (String, Long) = PlanCache.memo(dir, "outer") {
      outer += 1
      (s"$dir/sink", frame().count())
    }
    assert(ensure() == ((s"$dir/sink", 3L)))
    assert(ensure() == ((s"$dir/sink", 3L)) && frame().count() == 3)
    assert(inner == 1 && outer == 1, s"builds: inner $inner, outer $outer")
  }
}
