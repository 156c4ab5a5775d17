package perfbench

import java.util.concurrent.atomic.LongAdder

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.metrics.source.CodegenMetrics

/** Total Janino compile time of generated code, in ms. Spark records each
  * compile in the `compilationTime` histogram, whose reservoir samples
  * values and keeps no sum; this wraps the reservoir so every update is
  * also added to a running total. Values pass through unchanged. */
object CompileClock {
  private final class Summing(inner: Reservoir, total: LongAdder) extends Reservoir {
    override def size(): Int = inner.size()
    override def update(value: Long): Unit = { total.add(value); inner.update(value) }
    override def getSnapshot: Snapshot = inner.getSnapshot
  }

  private val total = new LongAdder

  /** Whether the wrap is in place; when it is not, `totalMs` stays 0. */
  lazy val installed: Boolean = try {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.set(h, new Summing(f.get(h).asInstanceOf[Reservoir], total))
    true
  } catch { case e: Exception =>
    System.err.println(s"[perfbench] compile clock unavailable: $e")
    false
  }

  def totalMs: Long = total.sum()
}
