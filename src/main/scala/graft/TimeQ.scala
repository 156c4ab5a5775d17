package graft

/** Bench-shaped single-query timer ([[Runs.timed]]: t0 BEFORE the query
  * constructor on a fresh session, like Bench — eager-constructor queries
  * attribute their materialization here).
  * Usage: runMain graft.TimeQ <sfDir> <query...>  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Runs.warm(spark)
    args.tail.foreach { n =>
      val s = Runs.timed(spark)(SparkEntry.queries(n)(_, sfDir))
      println(f"[timeq] $n $s%.2f s")
    }
    spark.stop()
  }
}
