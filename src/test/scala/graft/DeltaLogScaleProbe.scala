package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.ingest.Snapshots

/** One-off scale probe for the delta-encoded commit log (run manually:
  * `sbt "testOnly graft.DeltaLogScaleProbe"`; excluded from the
  * default suite by the PROBE env gate). Prints the numbers recorded
  * in BENCH_NOTES: per-commit latency at the head of a long history,
  * log bytes vs the full-pin encoding the log used before round 9, and
  * snapshot-open cost at the tail. */
class DeltaLogScaleProbe extends SparkTestBase {

  /** A temp root for one probe, deleted with everything under it when
    * `f` returns or throws: the roots are up to 0.7 GB each. */
  private def withRoot[T](name: String)(f: String => T): T = {
    val root = tempDir(name)
    try f(root.toString)
    finally deleteTree(root)
  }

  test("2000-commit log: flat commit latency, O(adds) bytes, bounded open") {
    assume(sys.env.get("SPARK_GRAFT_PROBE").contains("1"),
      "scale probe runs only with SPARK_GRAFT_PROBE=1")
    withRoot("graft_dlogscale") { root =>
      val prefix = "big"
      val df = spark.range(100).selectExpr("id AS k", "'big' AS topic")
      val n = 2000
      val windows = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      var t0 = System.nanoTime()
      (0 until n).foreach { i =>
        Snapshots.appendBatch(spark, root, prefix, df, Some(s"p$i"), Seq("topic"))
        if ((i + 1) % 200 == 0) {
          val dt = (System.nanoTime() - t0) / 1e9
          windows += ((i + 1, dt))
          t0 = System.nanoTime()
        }
      }
      println("[probe] commit-latency windows (commits, sec/200):")
      windows.foreach { case (upto, sec) => println(f"[probe]   ..$upto%5d  $sec%8.2f s") }
      val logDir = Paths.get(s"$root/$prefix._log")
      val (deltaBytes, ckptBytes, nCkpt) = {
        val s = Files.list(logDir)
        try {
          val fs = s.iterator().asScala.toSeq
          val d = fs.filter(_.getFileName.toString.matches("v\\d{5}\\.json")).map(Files.size).sum
          val cs = fs.filter(_.getFileName.toString.endsWith(".ckpt.json"))
          (d, cs.map(Files.size).sum, cs.size)
        } finally s.close()
      }
      val snap = Snapshots.snapshot(root, prefix, None).get
      // the pre-round-9 encoding re-pinned the full file list + stats in
      // EVERY version: Σ_{v=1..n} v × (per-file entry bytes) ≈ n²/2 ×
      // entry. Estimate entry size from the current full state.
      val ckptOne = {
        val s = Files.list(logDir)
        try s.iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".ckpt.json"))
          .map(Files.size).max
        finally s.close()
      }
      val entryBytes = ckptOne / snap.files.size
      val filesPerCommit = snap.files.size / n
      val fullPinEstimate =
        (0L until n.toLong).map(v => (v + 1) * filesPerCommit * entryBytes).sum
      println(f"[probe] files=${snap.files.size} deltaLog=${deltaBytes / 1024}%d KiB " +
        f"ckpts=$nCkpt (${ckptBytes / 1024}%d KiB, newest ${ckptOne / 1024}%d KiB)")
      println(f"[probe] full-pin (pre-r9) log estimate: ${fullPinEstimate / (1024 * 1024)}%d MiB " +
        f"vs delta ${deltaBytes / 1024}%d KiB => ${fullPinEstimate.toDouble / deltaBytes}%.0fx")
      // snapshot open at the tail: bounded reads, milliseconds
      val b = Snapshots.logOpens.get()
      val tOpen0 = System.nanoTime()
      val s2 = Snapshots.snapshot(root, prefix, None).get
      val openMs = (System.nanoTime() - tOpen0) / 1e6
      println(f"[probe] snapshot(None) at v${s2.version}: " +
        f"${Snapshots.logOpens.get() - b}%d log reads, $openMs%.1f ms")
      val perCommit = Snapshots.snapshot(root, prefix, Some(0)).get.files.size
      assert(s2.files.size == n * perCommit)
      // flatness: the last 200-commit window within 3x of the second
      // (first window pays JIT + fs warmup)
      assert(windows.last._2 < windows(1)._2 * 3,
        s"commit latency grew across the history: ${windows.toSeq}")
    }
  }

  /** The round-11 go/no-go probe for parquet-format checkpoints
    * (SURVEY §9 #5): at 10⁵ and 10⁶ files, how expensive are the JSON
    * checkpoint's write, cold parse, and a realistic snapshot open
    * (checkpoint + delta tail)? No data files are written — the log
    * machinery is exercised with synthetic manifests, which is exactly
    * the layer a parquet checkpoint would replace. */
  test("1M-file checkpoint: JSON write, cold parse, and tail-open cost") {
    assume(sys.env.get("SPARK_GRAFT_PROBE").contains("1"),
      "scale probe runs only with SPARK_GRAFT_PROBE=1")
    for (n <- Seq(100000, 1000000)) {
      withRoot(s"graft_ckptscale_$n") { root =>
        val prefix = "huge"
        def fname(i: Int) =
          f"topic=huge/part-$i%08d-4f2a9c1e-self-contained.snappy.parquet"
        val base = (0 until n).map(fname)
        // one rows-stat + one INT64 range stat per file — the realistic
        // per-file stats payload the checkpoint carries
        def statsFor(fs: Seq[String]) = fs.flatMap { f =>
          Seq(Snapshots.FileStat(f, "_rows", 1000L, 1000L, "L"),
            Snapshots.FileStat(f, "ba", 0L, 999L, "L"))
        }
        val t0 = System.nanoTime()
        Snapshots.writeSnapshot(root, prefix, 0, n.toLong, base, Seq.empty,
          "append", Seq.empty, statsFor(base))
        val v0Ms = (System.nanoTime() - t0) / 1e6
        val v0Bytes = Files.size(Paths.get(s"$root/$prefix._log/v00000.json"))
        // 15 delta commits of 10 files each; the v10 one also writes the
        // full-state checkpoint (files + stats + refsEver at n+ scale)
        var ckptMs = 0.0
        val commitMs = (1 to 15).map { v =>
          val prev = Snapshots.snapshot(root, prefix, None).get
          val add = (0 until 10).map(j => fname(n + v * 10 + j))
          val tc = System.nanoTime()
          Snapshots.writeSnapshot(root, prefix, v, prev.maxPos + 10,
            prev.files ++ add, Seq.empty, "append", Seq.empty,
            prev.stats ++ statsFor(add), parent = Some(prev))
          val ms = (System.nanoTime() - tc) / 1e6
          if (v == 10) ckptMs = ms
          ms
        }
        val ckptBytes = Files.size(
          Paths.get(s"$root/$prefix._log/v00010.ckpt.json"))
        // realistic open: newest checkpoint (v10) + 5-delta tail, cold
        Snapshots.clearCkptParseCacheForTest()
        val r0 = Snapshots.logOpens.get()
        val tCold = System.nanoTime()
        val s1 = Snapshots.snapshot(root, prefix, None).get
        val coldMs = (System.nanoTime() - tCold) / 1e6
        val coldReads = Snapshots.logOpens.get() - r0
        val tWarm = System.nanoTime()
        val s2 = Snapshots.snapshot(root, prefix, None).get
        val warmMs = (System.nanoTime() - tWarm) / 1e6
        assert(s1.version == 15 && s1.files.size == n + 150)
        assert(s2.files.size == s1.files.size)
        val medianCommit = commitMs.sorted.apply(commitMs.size / 2)
        println(f"[probe] n=$n%7d  v0-full: $v0Ms%8.0f ms ${v0Bytes / 1048576}%4d MiB | " +
          f"ckpt@v10: $ckptMs%8.0f ms ${ckptBytes / 1048576}%4d MiB | " +
          f"delta-commit median: $medianCommit%7.0f ms | " +
          f"open cold: $coldMs%7.0f ms ($coldReads reads) warm: $warmMs%6.0f ms")
      }
    }
  }
}
