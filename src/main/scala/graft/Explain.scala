package graft

import scala.util.control.NonFatal

/** Plan auditor: prints the formatted physical plan of the named queries.
  * A query whose plan fails to build prints `BROKEN <q>: <msg>` and the
  * sweep carries on, so `Explain <sfDir> all | grep BROKEN` is the cheap
  * first check after testdata is regenerated — schema drift
  * (e.g. TIMESTAMP(NANOS) → TIMESTAMP_NTZ between generations) surfaces
  * here before any expensive verify run. For timings use [[TimeQ]].
  * Usage: runMain graft.Explain <sfDir> <query...|all>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1) match {
      case Array() | Array("all") => SparkEntry.queries.keys.toSeq.sorted
      case xs => xs.toSeq
    }
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        // build the plan here: explain("formatted") prints some planning
        // failures into its text instead of throwing them
        df.queryExecution.executedPlan
        df.explain("formatted")
      } catch { case NonFatal(e) =>
        println(s"BROKEN $n: ${String.valueOf(e.getMessage).take(200)}")
      }
      Runs.release(spark)
    }
    spark.stop()
  }
}
