package graft

import org.apache.spark.sql.functions.sum

/** The between-run cleanup every `main` shares: what [[Runs.release]]
  * frees, what it must keep, and what [[Runs.timed]] charges and leaves. */
class RunsSpec extends SparkSpec {
  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release: a persisted DataFrame's blocks leave getPersistentRDDs") {
    val before = persistentIds
    val df = spark.range(1000).toDF("id").persist()
    assert(df.count() == 1000)
    val pinned = persistentIds -- before
    assert(pinned.nonEmpty)
    Runs.release(spark)
    assert((persistentIds intersect pinned).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("release: a localCheckpoint()ed Dataset stays readable (its blocks are the only copy)") {
    val ds = spark.range(100).toDF("id").localCheckpoint()
    Runs.release(spark)
    assert(ds.agg(sum("id")).head().getLong(0) == 4950L)
  }

  test("timed: clock covers query construction on a fresh session, nothing left cached") {
    val s = Runs.timed(spark) { ss =>
      assert(ss ne spark)
      Thread.sleep(50) // an eager constructor's work is charged to the run
      val df = ss.range(1000).toDF("id").persist()
      df.count()
      df.filter("id % 2 = 0")
    }
    assert(s >= 0.05)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.values.forall(_.isCheckpointed))
  }

  test("timed: a failing run still releases what it persisted") {
    val e = intercept[IllegalStateException] {
      Runs.timed(spark) { ss =>
        ss.range(10).toDF("id").persist().count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
