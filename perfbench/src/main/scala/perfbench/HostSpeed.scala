package perfbench

/** How fast the host runs code at the moment, read from a fixed reference
  * loop.
  *
  * The benchmark runs on a share of a host whose other tenants change its
  * speed by up to about 1.7x within minutes: the same single-thread loop
  * takes 25 to 61 ms from one second to the next, with the thread's CPU
  * time rising alike. Timed runs minutes apart then differ by more than the
  * bounds the benchmark sets. So every time an end-to-end metric reports is
  * a measured time scaled to a reference host speed by [[scale]]. The loop
  * shares no code or data with the engine, so a change to the engine moves
  * the scaled figures as it moves the measured ones.
  */
object HostSpeed {
  /** The loop's time on an idle core of the 4-core Xeon VM the benchmark
    * was tuned on, so scaled seconds are about the measured ones there.
    */
  val RefNs = 1.0e6

  /** How much more the engine slows than the loop: in some 70 runs of the
    * two workloads, passes slowed about as the square of the loop's time
    * (a loop 1.45x slower came with passes 2.1-2.6x slower). Four busy task
    * threads and a heap larger than the caches feel a contended host more
    * than one short loop does, and a stage waits for its slowest task.
    */
  val Exponent = 2.0

  /** `s`, measured while the loop took `hostNs`, at the reference speed. */
  def scale(s: Double, hostNs: Double): Double = s * math.pow(RefNs / hostNs, Exponent)

  // 64 KB: the loop stays in the core's private caches
  private val table = Array.tabulate(1 << 14)(_ * 31)
  private var sink = 0

  /** Nanoseconds one run of the reference loop takes on the calling
    * thread: 400k xorshift steps, each a read and a write at a
    * pseudo-random index of `table`.
    */
  def sample(): Long = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B9
    var acc = 0
    var i = 0
    while (i < 400000) {
      x ^= x << 13; x ^= x >>> 17; x ^= x << 5
      val k = x & (table.length - 1)
      acc += table(k)
      table(k) = acc ^ x
      i += 1
    }
    sink += acc
    System.nanoTime() - t0
  }
}
