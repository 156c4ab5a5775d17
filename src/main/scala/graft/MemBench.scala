package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Constrained-heap spill evidence (the round-8 ordered artifact): run the
  * heaviest registered queries at sf1 inside a JVM whose heap is capped far
  * below the comfortable bench rig (launch with -Xmx2g), and record what the
  * memory manager actually did — spill bytes (memory + disk) and the peak
  * per-task execution memory from TaskMetrics, plus post-GC driver heap.
  *
  * This is the one 100 TB claim (SURVEY §7: "spills stay rare at 4–8 GiB
  * executor heaps; pressure degrades to spill, not OOM") that had zero
  * artifacts behind it: every prior run had 8 GiB on a 128 GiB rig. The
  * assertion here is completion — a query that finishes with nonzero spill
  * under a 2 GiB cap demonstrates graceful degradation; a query that OOMs
  * is a real scale defect to fix.
  *
  * Shape: local[N] with shuffle.partitions = N (LOW on purpose — fewer,
  * fatter tasks maximize per-task pressure: each task's UnifiedMemoryManager
  * share is pool/2N..pool/N, and the pool is ~0.6·(heap−300 MB) ≈ 1 GiB at
  * -Xmx2g, so eight concurrent sf1-sized sort/agg tasks MUST spill or die).
  *
  * Usage: java -Xmx2g … graft.MemBench [sfDir] [query…]  (defaults:
  * /tmp/sf1, the BENCH_sf1.md heavy set). Prints one markdown row per query.
  */
object MemBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val names = if (args.length > 1) args.drop(1).toSeq else ScaleBench.DefaultHeavy
    ScaleBench.requireRegistered("membench", names)
    // SPARK_GRAFT_PARTS decouples shuffle width from thread count: the
    // remediation for a per-task pressure failure is FINER partitions
    // (smaller per-task working set), the SURVEY §7 sizing knob
    val builder = Runs.builder()
    sys.env.get("SPARK_GRAFT_PARTS").foreach(builder.config("spark.sql.shuffle.partitions", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val peakExec = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakExec.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        }
      }
    })

    val heapCap = Runtime.getRuntime.maxMemory >> 20
    println(s"[membench] heap cap $heapCap MiB | ${spark.sparkContext.master} | " +
      s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")} | sf dir $sfDir")
    println("| query | wall s | mem spill MiB | disk spill MiB | peak task exec MiB | post-GC heap MiB |")
    println("|---|---|---|---|---|---|")
    Runs.warm(spark)

    // OOM anywhere in the cause chain poisons the JVM (heap fragmentation,
    // killed executor threads, half-freed memory-manager state) — rows
    // timed after one are not evidence, so the run ABORTS on it (exit 2)
    // rather than printing measurements a reader could take as clean.
    def isOom(e: Throwable): Boolean = {
      var t = e
      var hops = 0 // hop limit: cause CYCLES of length >= 2 exist in the
      while (t != null && hops < 64) { // wild (deserialized remote causes)
        if (t.isInstanceOf[OutOfMemoryError]) return true
        t = if (t.getCause eq t) null else t.getCause
        hops += 1
      }
      false
    }
    var failures = 0
    names.foreach { n =>
      memSpill.set(0); diskSpill.set(0); peakExec.set(0)
      val wall = try Right(Runs.timed(spark)(SparkEntry.queries(n)(_, sfDir))) catch { case e: Throwable =>
        failures += 1
        if (isOom(e)) {
          println(s"| $n | FAILED OutOfMemoryError: ${String.valueOf(e.getMessage).take(70)} | | | | |")
          println(s"[membench] ABORT: OutOfMemoryError on $n — post-OOM JVM state is " +
            "unreliable, remaining queries NOT measured (re-run with a higher " +
            "-Xmx or finer SPARK_GRAFT_PARTS)")
          System.out.flush()
          System.exit(2)
        }
        Left(s"FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(70)}")
      }
      Thread.sleep(400) // listener events post async; let the bus drain
      val rt = Runtime.getRuntime
      val usedMb = (rt.totalMemory - rt.freeMemory) >> 20
      wall match {
        case Right(s) =>
          println(f"| $n | $s%.1f | ${memSpill.get >> 20} | ${diskSpill.get >> 20} | ${peakExec.get >> 20} | $usedMb |")
        case Left(status) => println(s"| $n | $status | | | | |")
      }
    }
    println(s"[membench] done: ${names.size - failures}/${names.size} completed under the $heapCap MiB cap")
    spark.stop()
  }
}
