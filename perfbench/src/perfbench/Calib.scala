package perfbench

import java.util.SplittableRandom

/** A fixed piece of JVM work that touches no program code and allocates
  * nothing (so garbage collection cannot enter it): copy and sort 200k
  * pseudo-random longs, then count them into a 64k-slot table. Its time
  * tracks how fast this host runs the JVM right now, so dividing a run's
  * timings by it removes the host's run-to-run drift, while a change to
  * the program moves the timings and not the calibration. */
object Calib {
  /** Fastest time of this work on the 4-core host the benchmark was
    * defined on: scaled timings are seconds at that host's speed. */
  val ReferenceS = 0.018

  private val src = {
    val r = new SplittableRandom(42)
    Array.fill(200000)(r.nextLong())
  }
  private val buf = new Array[Long](src.length)
  private val counts = new Array[Int](1 << 16)

  def once(): Double = {
    val t = System.nanoTime
    System.arraycopy(src, 0, buf, 0, src.length)
    java.util.Arrays.sort(buf)
    var i = 0
    while (i < buf.length) {
      counts((buf(i) ^ (buf(i) >>> 29)).toInt & 0xffff) += 1
      i += 1
    }
    (System.nanoTime - t) / 1e9
  }

  /** `n` timed runs. */
  def sample(n: Int): Seq[Double] = Seq.fill(n)(once())
}
