package graft.tools

/** Raw memory-BANDWIDTH scaling probe (no Spark): T threads stream-sum
  * disjoint chunks of a buffer far larger than LLC, so throughput is
  * bound by the memory subsystem, not ALU. Complements the cache-resident
  * tag-loop probe (Bench.rawCpuProbe), which measures CORE availability only — on
  * this VM the two ceilings differ wildly, and Spark's shuffle/cache-scan
  * phases live under THIS one. Usage: MemBw [threadCounts...] */
object MemBw {

  /** Measured bandwidth-scaling efficiency of a (lo, hi) thread span right
    * now, capped at 1.0 — the memory-subsystem analog of
    * Bench.spanCeiling's core-availability probe. Allocates its 2 GiB
    * buffer per call and releases it. */
  def spanCeiling(lo: Int, hi: Int): Double = {
    val words = 256 << 20
    val buf = new Array[Long](words)
    java.util.Arrays.fill(buf, 3L)
    run(lo, buf) // warmup/page-fault pass
    val bl = math.max(run(lo, buf), run(lo, buf))
    val bh = math.max(run(hi, buf), run(hi, buf))
    math.min(1.0, (bh / bl) / (hi.toDouble / lo))
  }

  private def run(threads: Int, buf: Array[Long]): Double = {
    val words = buf.length
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val done = new java.util.concurrent.atomic.AtomicLong()
      val chunk = words / threads
      val t0 = System.nanoTime()
      val deadline = t0 + 2_000_000_000L
      val fs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val start = t * chunk
            val end = start + chunk
            var passes = 0L
            var sink = 0L
            while (System.nanoTime() < deadline) {
              var i = start
              while (i < end) { sink += buf(i); i += 8 } // one load per cache line
              passes += 1
            }
            if (sink == 42) println("") // keep the loads live
            done.addAndGet(passes * (end - start).toLong / 8)
          }
        })
      }
      fs.foreach(_.get())
      pool.shutdown()
      // each counted load touches one 64-byte line
      done.get() * 64.0 / ((System.nanoTime() - t0) / 1e9) / (1L << 30)
  }

  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt) else Array(1, 4, 16)
    val words = 256 << 20 // 2 GiB of longs
    val buf = new Array[Long](words)
    java.util.Arrays.fill(buf, 3L)
    run(counts.head, buf) // warmup/page-fault pass
    val base = collection.mutable.Map.empty[Int, Double]
    counts.foreach { t =>
      val gbs = run(t, buf)
      base(t) = gbs
      println(f"threads=$t%3d  bandwidth=$gbs%7.2f GiB/s")
    }
    for (Seq(a, b) <- counts.toSeq.sliding(2) if base.contains(a) && base.contains(b))
      println(f"scaling $a%d->$b%d: ${base(b) / base(a)}%5.2fx of ${b / a}x ideal " +
        f"(efficiency ${base(b) / base(a) / (b.toDouble / a)}%5.3f)")
  }
}
