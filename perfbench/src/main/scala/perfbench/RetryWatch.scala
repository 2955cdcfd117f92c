package perfbench

import java.io.{OutputStream, PrintStream}
import java.util.concurrent.atomic.AtomicLong

/** Counts the engine's `[graft retry]` lines on standard error while
  * passing every byte through: a retried-then-successful task reports
  * COMPLETED, so this line is the only sign of it. */
object RetryWatch {
  private val n = new AtomicLong(0L)
  private val Marker = "[graft retry]"

  def count: Long = n.get()

  def install(): Unit = {
    val under = System.err
    val line = new StringBuilder
    val tee = new OutputStream {
      override def write(b: Int): Unit = {
        under.write(b)
        if (b == '\n') { if (line.indexOf(Marker) >= 0) n.incrementAndGet(); line.clear() }
        else if (line.length < 4096) line.append(b.toChar)
      }
      override def flush(): Unit = under.flush()
    }
    System.setErr(new PrintStream(tee, true))
  }
}
