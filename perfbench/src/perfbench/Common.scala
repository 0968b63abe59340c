package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** One timed operation: its kind (e.g. "query", "commit", "read"),
  * wall time, and whether its output check passed. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean)

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail: the highest of p99/p95/p90/p75/p50 that still has at
    * least ten samples above it (p50 when there are fewer than 20).
    * Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.size
    val p = Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)
    (quantile(xs, p / 100.0), p)
  }
}

/** Host health stamps: load average, a sequential read probe over the
  * fixture files, and a fixed single-threaded arithmetic probe. They
  * are taken at start and end of every run; a run on a slow host is
  * flagged in its record, never refused. */
object Health {
  def load1: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def readMbps(dir: java.io.File, budget: Long = 64L << 20): (Double, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f)
    val buf = java.nio.ByteBuffer.allocateDirect(4 << 20)
    var read = 0L
    val t0 = System.nanoTime()
    walk(dir).sortBy(-_.length).iterator.takeWhile(_ => read < budget).foreach { f =>
      val ch = java.nio.channels.FileChannel.open(f.toPath)
      try {
        var n = 0
        while (read < budget && { buf.clear(); n = ch.read(buf); n } > 0) read += n
      } finally ch.close()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    (if (sec <= 0 || read == 0) 0.0 else read / 1048576.0 / sec, read)
  }

  def cpuMops(): Double = {
    def pass(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      val n = 50000000
      val t0 = System.nanoTime()
      while (i < n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= (x >>> 33)
        i += 1
      }
      if (x == 42L) System.err.print("")
      n / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    pass(); pass()
  }

  def stamp(dataDir: java.io.File): Map[String, Double] = {
    val (mbps, bytes) = readMbps(dataDir)
    Map("load1" -> load1, "read_mbps" -> mbps, "read_probe_bytes" -> bytes.toDouble,
      "cpu_mops" -> cpuMops())
  }

  /** Reasons to distrust a run's wall times; empty when healthy. */
  def flags(start: Map[String, Double], end: Map[String, Double], cpus: Int): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    Seq("start" -> start, "end" -> end).foreach { case (at, h) =>
      if (h("load1") > cpus) out += f"$at load1 ${h("load1")}%.2f > $cpus"
      if (h("read_probe_bytes") >= (16L << 20) && h("read_mbps") < 200)
        out += f"$at read ${h("read_mbps")}%.0f MB/s < 200"
    }
    if (end("cpu_mops") < 0.8 * start("cpu_mops"))
      out += f"cpu_mops fell ${start("cpu_mops")}%.0f -> ${end("cpu_mops")}%.0f"
    out.toSeq
  }
}

/** Highest heap occupancy left by a full collection at fixed points
  * of the run: after set-up, after the timed loop and at the end.
  * Collections the run triggers by itself are left out, so the figure
  * does not depend on when the collector happened to run. */
object HeapPeak {
  val samplesMb = mutable.ArrayBuffer.empty[Double]

  private def usedAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Forces full collections and records the heap they leave. Spark
    * frees cached blocks of collected RDDs and broadcasts, and the
    * state of finished queries, from its own threads after the
    * collection that found them; so collections repeat, half a second
    * apart, until one frees less than 1 MB (at most six). */
  def sample(): Unit = {
    var prev = usedAfterGc()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(500)
      prev = cur
      cur = usedAfterGc()
      i += 1
    } while (i < 6 && prev - cur > (1L << 20))
    samplesMb += cur / 1048576.0
  }

  def peakMb: Double = samplesMb.max
}
