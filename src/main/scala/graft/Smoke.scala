package graft

/** Local smoke runner mirroring the driver's t1 check: run the flagship
  * `SparkEntry.entry` and assert rows > 0. Usage: `runMain graft.Smoke`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    val n = df.count()
    println(s"[smoke] entry() rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
