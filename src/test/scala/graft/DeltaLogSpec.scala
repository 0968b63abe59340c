package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.{CommitLog, ProduceJob, Snapshots, Topics}

/** The delta-encoded commit log (round 9): every version file records
  * add/del ACTIONS against its parent — O(files changed this commit),
  * never O(table) — with a full-state checkpoint every
  * [[Snapshots.checkpointInterval]] versions so readers replay a
  * BOUNDED tail (Delta's `_last_checkpoint` shape). These specs make
  * the two 100 TB properties unrepresentable to regress:
  * (a) commit metadata bytes scale with the commit, not the table;
  * (b) snapshot resolution opens one checkpoint + tail deltas, not
  * the whole history. */
class DeltaLogSpec extends SparkTestBase {

  test("commit metadata is O(files added), not O(table): version files stay flat as the table grows") {
    val root = tempDir("graft_dlog").toString
    // 25 commits of k files each → the table holds 25k files at v24,
    // but each version file mentions only ITS OWN k additions
    (0 until 25).foreach { i =>
      ProduceJob.produceBatch(spark, root, "dl", topics = 1, numMessages = 10 + i)
    }
    assert(Snapshots.versions(root, "dl") == (0 until 25))
    val perCommit = Snapshots.snapshot(root, "dl", Some(0)).get.files.size
    val snap = Snapshots.snapshot(root, "dl", None).get
    assert(snap.files.size == 25 * perCommit)
    // delta manifests: size must NOT grow with the version number —
    // v24's file (24 table files) stays within ~2x of v1's (1 file).
    // v0 has no parent, so it is its own full root — excluded.
    val sizes = (1 until 25).map(v =>
      Files.size(Paths.get(s"$root/dl._log").resolve(f"v$v%05d.json")))
    assert(sizes.max <= sizes.min * 2,
      s"delta manifest sizes should be flat, got min=${sizes.min} max=${sizes.max}")
    // and the LAST delta must not mention any earlier version's files
    val raw = Files.readString(Paths.get(s"$root/dl._log/v00024.json"))
    val earlier = Snapshots.snapshot(root, "dl", Some(23)).get.files
    assert(earlier.forall(f => !raw.contains(f)),
      "a delta manifest re-pinned files it did not add")
    // checkpoints exist at the interval versions (10, 20 by default)
    assert(Files.isRegularFile(Paths.get(s"$root/dl._log/v00010.ckpt.json")))
    assert(Files.isRegularFile(Paths.get(s"$root/dl._log/v00020.ckpt.json")))
  }

  test("snapshot resolution opens one checkpoint + bounded delta tail, not the history") {
    val root = tempDir("graft_dlog").toString
    (0 until 25).foreach { i =>
      ProduceJob.produceBatch(spark, root, "dr", topics = 1, numMessages = 10 + i)
    }
    // latest = v24; nearest checkpoint = v20 → resolution should read
    // the 4 deltas v24..v21 plus the v20 checkpoint, plus the head
    // probe (opOf on v24). Budget: interval + a small constant, NEVER
    // the 25-version history.
    val perCommit = Snapshots.snapshot(root, "dr", Some(0)).get.files.size
    val before = Snapshots.logOpens.get()
    val snap = Snapshots.snapshot(root, "dr", None).get
    val opens = Snapshots.logOpens.get() - before
    assert(snap.version == 24 && snap.files.size == 25 * perCommit)
    assert(opens <= Snapshots.checkpointInterval + 3,
      s"snapshot resolution read $opens log files — O(history) replay is back")
    // resolving the checkpoint version itself is ONE read
    val b2 = Snapshots.logOpens.get()
    assert(Snapshots.snapshot(root, "dr", Some(20)).get.files.size == 21 * perCommit)
    assert(Snapshots.logOpens.get() - b2 <= 2)
  }

  test("readChanges opens only its window's log files, as additionsInWindow does") {
    val root = tempDir("graft_dlog").toString
    val one = tempDir("graft_dlog_src").resolve("one")
    spark.range(10).toDF("ba").coalesce(1).write.parquet(one.toString)
    val file = Files.list(one).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    val dir = Paths.get(Topics.tableDir(root, "rc"))
    Files.createDirectories(dir)
    // a 60-version log, one file added per version
    (0 until 60).foreach { v =>
      Files.copy(file, dir.resolve(f"part-$v%05d.parquet"))
      Snapshots.commit(root, "rc", maxPos = v)
    }
    def opens[T](f: => T): (T, Long) = {
      val before = Snapshots.logOpens.get()
      val r = f
      (r, Snapshots.logOpens.get() - before)
    }
    val (adds, windowOpens) = opens(Snapshots.additionsInWindow(root, "rc", 58, 59))
    assert(adds == Seq(59 -> Seq("part-00059.parquet")))
    // beyond the walk, readChanges reads only the schema events of its
    // window end: one checkpoint plus its delta tail
    val (changes, readOpens) = opens(Snapshots.readChanges(spark, root, "rc", 58, Some(59)))
    assert(readOpens <= windowOpens + Snapshots.checkpointInterval + 2,
      s"readChanges opened $readOpens log files, additionsInWindow $windowOpens")
    assert(changes.count() == 10)
  }

  test("delta chain state equals a from-scratch fold: files, stats, txns, maxPos carry exactly") {
    val root = tempDir("graft_dlog").toString
    // mixed history inside one checkpoint window: appends, a delete
    // (file rewrite), an update, a schema add — all delta-encoded
    ProduceJob.produceBatch(spark, root, "dm", topics = 1, numMessages = 100)
    ProduceJob.produceBatch(spark, root, "dm", topics = 1, numMessages = 50)
    Snapshots.delete(spark, root, "dm", col("ba") % 10 === 0, txn = Some("t-del"))
    Snapshots.updateWhere(spark, root, "dm", col("ba") === 7,
      Seq("name" -> lit("seven")), txn = Some("t-upd"))
    Snapshots.addColumn(root, "dm", "extra", "INT", Some("1"))
    val snap = Snapshots.snapshot(root, "dm", None).get
    // every pinned file exists on disk and every stat row points at a
    // pinned file (a dropped parent stat must not survive the carry)
    val base = Paths.get(Topics.tableDir(root, "dm"))
    assert(snap.files.nonEmpty && snap.files.forall(f => Files.isRegularFile(base.resolve(f))))
    assert(snap.stats.nonEmpty && snap.stats.forall(st => snap.files.contains(st.file)))
    assert(snap.txns.toSet == Set("t-del", "t-upd"))
    assert(snap.maxPos == 49) // the later produce's watermark carried
    // row-level truth: deleted rows gone, update applied, fill visible
    val df = Snapshots.read(spark, root, "dm")
    assert(df.filter(col("ba") % 10 === 0 && col("ba") < 100).count() == 0)
    // ba=7 exists in BOTH produce batches → two rows updated
    assert(df.filter(col("name") === "seven").count() == 2)
    assert(df.filter(col("extra") === 1).count() == df.count())
  }

  test("vacuum past a delta's parent writes a checkpoint barrier first; truncated chains still resolve") {
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 1000 // force a long chain with NO periodic checkpoint
    try {
      (0 until 6).foreach { i =>
        ProduceJob.produceBatch(spark, root, "dv", topics = 1, numMessages = 10 + i)
      }
      // keep only v4+ — v4's parent (v3) falls below the cut, so vacuum
      // must materialize v4 (and v5 if needed) as self-resolvable
      Snapshots.vacuum(root, "dv", keepFrom = 4, orphanGraceMs = 0)
      assert(Snapshots.versions(root, "dv") == Seq(4, 5))
      val snap = Snapshots.snapshot(root, "dv", None).get
      assert(snap.version == 5)
      assert(Snapshots.read(spark, root, "dv").count() == (10 + 11 + 12 + 13 + 14 + 15))
      // time travel to the oldest kept version still works
      assert(Snapshots.snapshot(root, "dv", Some(4)).get.files.size <
        snap.files.size)
    } finally Snapshots.checkpointInterval = iv
  }

  test("vacuum sweeps crashed writeStaged staging dirs (age-gated), never young ones") {
    val root = tempDir("graft_dlog").toString
    ProduceJob.produceBatch(spark, root, "sw", topics = 1, numMessages = 50)
    val base = Paths.get(Topics.tableDir(root, "sw"))
    // simulate a crash between the staged write and the move: an
    // abandoned staging dir sits NEXT TO the table dir
    val stale = base.resolveSibling(s"${base.getFileName}._staging-deadbeef")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-orphan.parquet"), "x")
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600_000))
    val young = base.resolveSibling(s"${base.getFileName}._staging-cafe0001")
    Files.createDirectories(young)
    Files.writeString(young.resolve("part-inflight.parquet"), "y")
    Snapshots.vacuum(root, "sw", keepFrom = 0) // default grace: 10 min
    assert(!Files.exists(stale), "stale staging dir must be swept")
    assert(Files.exists(young), "in-flight staging dir must survive the grace window")
    // the table itself is untouched
    assert(Snapshots.read(spark, root, "sw").count() == 50)
  }

  test("a corrupt/abandoned checkpoint at a commit's version is repaired, not trusted or fatal") {
    // round-11 advisor: writeCheckpoint's CREATE_NEW collision path
    // caught only IOException around the staleness probe — a TRUNCATED
    // checkpoint whose parse threw anything else failed the commit;
    // and the files-only comparison trusted an abandoned checkpoint
    // differing only in txns/stats/refsEver. Unreadable or different
    // now both mean stale-and-replace (our json is known-good).
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      ProduceJob.produceBatch(spark, root, "ck", topics = 1, numMessages = 10) // v0
      ProduceJob.produceBatch(spark, root, "ck", topics = 1, numMessages = 10) // v1
      // plant garbage where v2's checkpoint will go — an abandoned
      // write from a crashed committer at a reallocated version number
      val ckpt = Paths.get(s"$root/ck._log/v00002.ckpt.json")
      Files.writeString(ckpt, "{\"version\": 2, \"files\": [\"part-orph") // truncated
      ProduceJob.produceBatch(spark, root, "ck", topics = 1, numMessages = 10) // v2 + ckpt
      // the commit survived and the checkpoint was atomically repaired
      val snap = Snapshots.snapshot(root, "ck", None).get
      assert(snap.version == 2)
      assert(Snapshots.read(spark, root, "ck").count() == 30)
      val body = Files.readString(ckpt)
      assert(body.contains("\"refsEver\""), body.take(200))
      assert(!body.contains("part-orph"), "garbage checkpoint must be replaced")
      // a fresh reader resolving THROUGH the repaired checkpoint agrees
      assert(Snapshots.snapshot(root, "ck", Some(2)).get.files == snap.files)
    } finally Snapshots.checkpointInterval = iv
  }

  test("refsEver is bounded by live files after vacuum, not by files ever written") {
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 4
    try {
      // churn-heavy history: append ×2 + compact + vacuum, repeated —
      // the shape where an unbounded ever-referenced set accumulates
      // every superseded original and every rewrite ever made
      (0 until 6).foreach { _ =>
        ProduceJob.produceBatch(spark, root, "rb", topics = 1, numMessages = 50)
        ProduceJob.produceBatch(spark, root, "rb", topics = 1, numMessages = 50)
        Snapshots.compact(spark, root, "rb")
        val head = Snapshots.snapshot(root, "rb").get.version
        Snapshots.vacuum(root, "rb", keepFrom = head, orphanGraceMs = 0)
      }
      val head = Snapshots.snapshot(root, "rb").get
      assert(Snapshots.read(spark, root, "rb").count() == 600)
      // the newest checkpoint's refsEver must be O(live files): the
      // set's only job is stopping commit()'s listing sweep from
      // re-adopting files already owned, and a physically deleted file
      // can never be listed again
      val logd = Paths.get(s"$root/rb._log")
      val newestCkpt = Files.list(logd).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".ckpt.json")).toSeq.sorted.lastOption
      assert(newestCkpt.isDefined, "churned table must carry a checkpoint")
      val txt = Files.readString(logd.resolve(newestCkpt.get))
      val refs = "\"refsEver\":\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
        .map(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).size).getOrElse(-1)
      assert(refs >= head.files.size)
      assert(refs <= head.files.size + 2,
        s"refsEver carries $refs names for a ${head.files.size}-file table — O(history), not O(live)")
      // no-re-adoption still holds: the next commit adopts only its
      // own new files, and the row count stays conserved
      ProduceJob.produceBatch(spark, root, "rb", topics = 1, numMessages = 25)
      assert(Snapshots.read(spark, root, "rb").count() == 625)
    } finally Snapshots.checkpointInterval = iv
  }

  test("refsEver prune vs a concurrent committer: superset folds stay safe; bound re-establishes") {
    // round-11 verdict #2a: the vacuum-time refsEver prune rewrites the
    // newest kept checkpoint while a CONCURRENT committer may be
    // folding from the UNPRUNED parent — the worst interleaving leaves
    // the newest checkpoint carrying the unpruned (superset) set, i.e.
    // the prune is effectively lost for one cycle. Safety must not
    // depend on the prune: refsEver only STOPS adoption, so a superset
    // containing dead names can never cause re-adoption of a live file
    // or loss of a new one; the bound then re-establishes at the next
    // vacuum. This spec replays that worst case deterministically.
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      // churn WITHOUT vacuuming: refsEver accumulates every superseded
      // original + every rewrite
      (0 until 4).foreach { _ =>
        ProduceJob.produceBatch(spark, root, "rc", topics = 1, numMessages = 50)
        ProduceJob.produceBatch(spark, root, "rc", topics = 1, numMessages = 50)
        Snapshots.compact(spark, root, "rc")
      }
      val logd = Paths.get(s"$root/rc._log")
      def newestCkpt: java.nio.file.Path = {
        val n = Files.list(logd).iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".ckpt.json")).toSeq.sorted.last
        logd.resolve(n)
      }
      def refsOf(p: java.nio.file.Path): Seq[String] =
        "\"refsEver\":\\s*\\[([^\\]]*)\\]".r
          .findFirstMatchIn(Files.readString(p))
          .map(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1))
            .map(_.group(1)).toSeq).getOrElse(Seq.empty)
      val fat = refsOf(newestCkpt)
      val head0 = Snapshots.snapshot(root, "rc").get.version
      Snapshots.vacuum(root, "rc", keepFrom = head0, orphanGraceMs = 0)
      val prunedPath = newestCkpt
      val pruned = refsOf(prunedPath)
      assert(pruned.size < fat.size,
        s"prune must shrink refsEver (fat=${fat.size}, pruned=${pruned.size})")
      // replay the race outcome: the mid-vacuum committer folded from
      // the unpruned parent, so the newest checkpoint ends up with the
      // SUPERSET set (unpruned ∪ pruned) — overwrite it that way
      val superset = (fat ++ pruned).distinct.sorted
      val body = Files.readString(prunedPath)
      val patched = "\"refsEver\":\\s*\\[[^\\]]*\\]".r.replaceFirstIn(body,
        java.util.regex.Matcher.quoteReplacement(
          "\"refsEver\": " + superset.map("\"" + _ + "\"").mkString("[", ", ", "]")))
      Files.writeString(prunedPath, patched)
      assert(refsOf(prunedPath).size == superset.size)
      // safety under the superset: reads exact, new commits adopt only
      // their own files (crossing the interval folds a NEW checkpoint
      // from the superset one), rows conserved
      assert(Snapshots.read(spark, root, "rc").count() == 400)
      ProduceJob.produceBatch(spark, root, "rc", topics = 1, numMessages = 25)
      ProduceJob.produceBatch(spark, root, "rc", topics = 1, numMessages = 25)
      assert(Snapshots.read(spark, root, "rc").count() == 450)
      // the bound re-establishes at the NEXT vacuum
      val head1 = Snapshots.snapshot(root, "rc").get
      Snapshots.vacuum(root, "rc", keepFrom = head1.version, orphanGraceMs = 0)
      val after = refsOf(newestCkpt)
      assert(after.size <= head1.files.size + 2,
        s"refsEver ${after.size} names for ${head1.files.size} live files after re-vacuum")
      assert(Snapshots.read(spark, root, "rc").count() == 450)
    } finally Snapshots.checkpointInterval = iv
  }

  test("additionsInWindow on a staged-heavy log: window-bounded reads, backward find stops at first published") {
    // round-11 verdict #2c: turn the comment-adjudicated cost claims
    // into a counter-pinned spec (the logOpens pattern). Claims: cost
    // is O(window × checkpointInterval) log reads plus one op-probe per
    // staged version in the window; the backward find for the first
    // published base stops at the first non-staged version — bounded
    // by the contiguous staged run, never O(history).
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 4
    try {
      // long published history: v0..v35
      (0 until 36).foreach { i =>
        ProduceJob.produceBatch(spark, root, "aw", topics = 1, numMessages = 5 + (i % 3))
      }
      // a contiguous staged run: v36..v38 (never published)
      (0 until 3).foreach { s =>
        ProduceJob.personProjection(
          spark.range(1000 + s * 10, 1005 + s * 10).toDF("cnt"), "cnt", "aw", 1)
          .write.mode("append").partitionBy("topic")
          .parquet(graft.ingest.Topics.tableDir(root, "aw"))
        Snapshots.commitStaged(root, "aw", 2000 + s, audit = s"aud$s")
        ()
      }
      // two published commits after the staged run: v39, v40
      ProduceJob.produceBatch(spark, root, "aw", topics = 1, numMessages = 7)
      ProduceJob.produceBatch(spark, root, "aw", topics = 1, numMessages = 9)
      val head = Snapshots.snapshot(root, "aw").get.version
      assert(head == 40)
      // window after the long history: from v35 over the staged run
      val before = Snapshots.logOpens.get()
      val adds = Snapshots.additionsInWindow(root, "aw", 35, head)
      val opens = Snapshots.logOpens.get() - before
      // published window = {39, 40}, each attributing its own files
      assert(adds.map(_._1) == Seq(39, 40))
      assert(adds.forall(_._2.nonEmpty))
      // budget: op-probes for v36..v40 (5) + three snapshot resolutions
      // (prevPub v35, v39, v40), each ≤ interval + 3 — NEVER the
      // 41-version history
      val budget = 5 + 3 * (Snapshots.checkpointInterval + 3)
      assert(opens <= budget,
        s"additionsInWindow read $opens log files (budget $budget) — O(history)?")
      // backward find entering INSIDE the staged run: probes the staged
      // run back to the first published version, then stops
      val b2 = Snapshots.logOpens.get()
      val adds2 = Snapshots.additionsInWindow(root, "aw", 37, head)
      val opens2 = Snapshots.logOpens.get() - b2
      assert(adds2.map(_._1) == Seq(39, 40))
      assert(opens2 <= budget + 3, // + the ≤3-version staged-run walk
        s"staged-run backward find read $opens2 log files")
      // attribution correctness on the staged-heavy log: staged
      // versions are invisible, adds diff against the previous
      // PUBLISHED version
      val full = Snapshots.additionsInWindow(root, "aw", -1, head)
      assert(!full.map(_._1).exists(v => (36 to 38).contains(v)))
      // append-only published history: every published file is
      // attributed exactly once, unpublished staged files never
      assert(full.flatMap(_._2).toSet ==
        Snapshots.snapshot(root, "aw").get.files.toSet)
    } finally Snapshots.checkpointInterval = iv
  }

  test("a 20k-version un-checkpointed chain resolves iteratively (no stack overflow)") {
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = Int.MaxValue // NO periodic checkpoints
    try {
      // synthesize the log directly (no data files needed to exercise
      // resolution): each version replaces the previous one's single
      // file, so every manifest is a tiny delta and the chain to v0 is
      // the full 20k versions — recursion would overflow the stack here
      val n = 20000
      var prev: Option[Snapshots.Snapshot] = None
      (0 to n).foreach { k =>
        Snapshots.writeSnapshot(root, "deep", k, maxPos = k,
          files = Seq(s"f$k"), removed = Seq.empty, parent = prev)
        prev = Some(Snapshots.Snapshot(k, k, Seq(s"f$k"), Seq.empty))
      }
      val snap = Snapshots.snapshot(root, "deep", Some(n)).get
      assert(snap.files == Seq(s"f$n"))
      assert(snap.maxPos == n.toLong)
    } finally Snapshots.checkpointInterval = iv
  }

  test("concurrent appendBatch writers to one table: both commit, rows conserved") {
    val root = tempDir("graft_dlog").toString
    ProduceJob.produceBatch(spark, root, "cw", topics = 1, numMessages = 100) // v0
    // two writers race writeStaged + commitFiles on the same table:
    // UUID staging dirs can't collide, the commits serialize on the
    // log's CREATE_NEW and the loser retries onto the new head
    val dfs = Seq(
      ProduceJob.personProjection(spark.range(100, 150).toDF("cnt"), "cnt", "cw", 1),
      ProduceJob.personProjection(spark.range(150, 230).toDF("cnt"), "cnt", "cw", 1))
    val threads = dfs.map { df =>
      new Thread(() => {
        Snapshots.appendBatch(spark, root, "cw", df,
          partitionCols = Seq("topic")); ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(Snapshots.versions(root, "cw") == Seq(0, 1, 2))
    assert(Snapshots.read(spark, root, "cw").count() == 230)
    assert(Snapshots.read(spark, root, "cw").select("ba").distinct().count() == 230)
  }

  test("legacy full manifests read as their own checkpoints; new deltas chain on top") {
    val root = tempDir("graft_dlog").toString
    // hand-write a pre-round-9 FULL manifest (the legacy format)
    val rows = ProduceJob.personProjection(
      spark.range(20).toDF("cnt"), "cnt", "lg", 1)
    rows.write.mode("append").partitionBy("topic")
      .parquet(Topics.tableDir(root, "lg"))
    val legacyFiles = {
      val b = Paths.get(Topics.tableDir(root, "lg"))
      val s = Files.walk(b)
      try s.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => b.relativize(p).toString).toSeq.sorted
      finally s.close()
    }
    val legacy = legacyFiles.map(f => "\"" + f + "\"").mkString("[", ", ", "]")
    Files.createDirectories(Paths.get(s"$root/lg._log"))
    Files.writeString(Paths.get(s"$root/lg._log/v00000.json"),
      s"""{"version": 0, "op": "append", "maxPos": 19, "files": $legacy, "removed": [], "txns": [], "stats": []}""")
    assert(Snapshots.snapshot(root, "lg", None).get.files == legacyFiles)
    // a new delta commit chains on the legacy root
    ProduceJob.produceBatch(spark, root, "lg", topics = 1, numMessages = 5)
    val snap = Snapshots.snapshot(root, "lg", None).get
    assert(snap.version == 1 && snap.files.size > legacyFiles.size)
    assert(legacyFiles.toSet.subsetOf(snap.files.toSet))
    assert(Snapshots.read(spark, root, "lg").count() == 25)
  }

  test("schema-event versions ride the checkpoints: add, rename, drop and re-add resolve across three checkpoints and a vacuum") {
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      val dir = Topics.tableDir(root, "se")
      def append(from: Int, to: Int)(shape: DataFrame => DataFrame): Int = {
        shape(ProduceJob.personProjection(spark.range(from, to).toDF("cnt"), "cnt", "se", 1))
          .write.mode("append").partitionBy("topic").parquet(dir)
        Snapshots.commit(root, "se", to - 1)
      }
      ProduceJob.produceBatch(spark, root, "se", topics = 1, numMessages = 100) // v0
      assert(Snapshots.addColumn(root, "se", "tier", "STRING", Some("'std'")) == 1)
      assert(Snapshots.renameColumn(root, "se", "name", "full_name") == 2) // + checkpoint
      assert(append(100, 150)(_.withColumnRenamed("name", "full_name")
        .withColumn("tier", lit("gold"))) == 3)
      assert(Snapshots.dropColumn(root, "se", "address") == 4) // + checkpoint
      assert(append(150, 200)(_.withColumnRenamed("name", "full_name")
        .withColumn("tier", lit("gold")).drop("address")) == 5)
      assert(Snapshots.addColumn(root, "se", "address", "BIGINT", Some("7")) == 6) // + checkpoint
      val expected = Map(0 -> Seq(), 1 -> Seq(1), 2 -> Seq(1, 2), 3 -> Seq(1, 2),
        4 -> Seq(1, 2, 4), 5 -> Seq(1, 2, 4), 6 -> Seq(1, 2, 4, 6))
      expected.foreach { case (v, evs) =>
        assert(Snapshots.snapshot(root, "se", Some(v)).get.evs == evs, s"v$v")
      }
      // each checkpoint carries its snapshot's event versions
      Seq(2 -> Seq(1, 2), 4 -> Seq(1, 2, 4), 6 -> Seq(1, 2, 4, 6)).foreach { case (v, evs) =>
        val ck = Paths.get(f"$root/se._log/v$v%05d.ckpt.json")
        assert(CommitLog.decode(Files.readAllBytes(ck)).evs.contains(evs), s"checkpoint v$v")
      }
      def checkLatest(): Unit = {
        val snap = Snapshots.snapshot(root, "se", None).get
        val schema = Snapshots.tableSchema(spark, root, "se", snap)
        assert(schema.fieldNames.toSet.intersect(Set("name", "full_name", "tier", "address")) ==
          Set("full_name", "tier", "address"), schema.fieldNames.mkString(","))
        assert(schema("address").dataType == org.apache.spark.sql.types.LongType)
        val df = Snapshots.read(spark, root, "se")
        assert(df.count() == 200)
        assert(df.filter(col("full_name") === "hangc").count() == 200)
        assert(df.filter(col("tier") === "std").count() == 100)
        assert(df.filter(col("tier") === "gold").count() == 100)
        assert(df.filter(col("address") === 7L).count() == 200)
      }
      checkLatest()
      // time travel between the events resolves through the checkpoints
      val v3 = Snapshots.read(spark, root, "se", Some(3))
      assert(v3.filter(col("address") === "GuangZhou" && col("full_name") === "hangc")
        .count() == 150)
      assert(!Snapshots.read(spark, root, "se", Some(5)).columns.contains("address"))
      // compaction materializes the evolved schema; a vacuum below every
      // event then keeps the event versions in `evs` while their
      // entries are gone, and the read needs none of them
      assert(Snapshots.compact(spark, root, "se") == 7)
      Snapshots.vacuum(root, "se", keepFrom = 7, orphanGraceMs = 0)
      assert(Snapshots.versions(root, "se") == Seq(7))
      val head = Snapshots.snapshot(root, "se", None).get
      assert(head.evs == Seq(1, 2, 4, 6))
      assert(Snapshots.schemaEvents(root, "se", head).isEmpty)
      checkLatest()
      // a commit after the vacuum folds on top of the barrier checkpoint
      assert(Snapshots.addColumn(root, "se", "note", "STRING") == 8) // + checkpoint
      assert(Snapshots.snapshot(root, "se", None).get.evs == Seq(1, 2, 4, 6, 8))
      assert(Snapshots.read(spark, root, "se").filter(col("note").isNull).count() == 200)
    } finally Snapshots.checkpointInterval = iv
  }

  test("a base without evs (legacy full manifest, pre-evs checkpoint) still resolves its schema events") {
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      ProduceJob.personProjection(spark.range(20).toDF("cnt"), "cnt", "le", 1)
        .write.mode("append").partitionBy("topic").parquet(Topics.tableDir(root, "le"))
      val legacyFiles = {
        val b = Paths.get(Topics.tableDir(root, "le"))
        val s = Files.walk(b)
        try s.iterator().asScala.filter(p =>
          Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .map(p => b.relativize(p).toString).toSeq.sorted
        finally s.close()
      }
      val legacy = legacyFiles.map(f => "\"" + f + "\"").mkString("[", ", ", "]")
      Files.createDirectories(Paths.get(s"$root/le._log"))
      Files.writeString(Paths.get(s"$root/le._log/v00000.json"),
        s"""{"version": 0, "op": "append", "maxPos": 19, "files": $legacy, "removed": [], "txns": [], "stats": []}""")
      assert(Snapshots.addColumn(root, "le", "tier", "STRING", Some("'std'")) == 1)
      def tierStd(): Long =
        Snapshots.read(spark, root, "le").filter(col("tier") === "std").count()
      assert(Snapshots.snapshot(root, "le", None).get.evs == Seq(1))
      assert(tierStd() == 20)
      ProduceJob.produceBatch(spark, root, "le", topics = 1, numMessages = 5) // v2 + checkpoint
      // strip `evs` from the checkpoint, as a checkpoint written before
      // the field existed: the versions below it come from their ops
      val ck = Paths.get(s"$root/le._log/v00002.ckpt.json")
      val stripped = CommitLog.decode(Files.readAllBytes(ck)).copy(evs = None)
      Files.write(ck, CommitLog.encode(stripped))
      assert(!Files.readString(ck).contains("\"evs\""))
      ProduceJob.produceBatch(spark, root, "le", topics = 1, numMessages = 5) // v3
      val snap = Snapshots.snapshot(root, "le", None).get
      assert(snap.version == 3 && snap.evs == Seq(1))
      assert(Snapshots.tableSchema(spark, root, "le", snap).fieldNames.contains("tier"))
      assert(Snapshots.read(spark, root, "le").count() == 30)
      assert(tierStd() == 20)
    } finally Snapshots.checkpointInterval = iv
  }

  test("hand-corrupted log: the O(delta) fold equals the old O(table) fileSet ground truth") {
    // round-11 verdict advisor ask (b): the fold rewrite replaced a
    // per-delta full file-set rebuild with delta-sized lookups over a
    // maintained sorted list + stats⊆files invariant. Equivalence is
    // argued by induction in the code — pin it against a NAIVE
    // from-scratch reimplementation on a log exercising the edge
    // shapes a hand-written/legacy log can contain: del of an absent
    // file, del+re-add of one file in the same delta, statsAdd
    // replacing a carried stat, phantom statsAdd, UNSORTED add array.
    val root = tempDir("graft_dlog").toString
    withMultiFileWrites {
      ProduceJob.produceBatch(spark, root, "gt", topics = 1, numMessages = 40) // v0
    }
    val v0 = Snapshots.snapshot(root, "gt").get
    assert(v0.files.size >= 2, "needs ≥2 real files")
    val fA = v0.files.head
    val fB = v0.files.last
    def delta(v: Int, parent: Int, add: Seq[String], del: Seq[String],
              statsAdd: Seq[String]): Unit = {
      def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ", ", "]")
      Files.writeString(Paths.get(f"$root/gt._log/v$v%05d.json"),
        s"""{"version": $v, "fmt": 2, "op": "append", "maxPos": 39, "add": ${arr(add)}, "del": ${arr(del)}, "removed": [], "txnsAdd": [], "statsAdd": ${arr(statsAdd)}, "parent": "$parent"}""")
    }
    // v1: del an ABSENT file + del/re-add fA in one delta, with a
    // statsAdd that REPLACES fA's carried (file,column,typ) stat and a
    // phantom statsAdd; add list deliberately UNSORTED (fA after a
    // lexically-later synthetic name cannot be arranged reliably, so
    // add two synthetic names out of order — they need not exist on
    // disk for fold equivalence)
    delta(1, 0,
      add = Seq("zz-synthetic-2.parquet", "aa-synthetic-1.parquet", fA),
      del = Seq("never-existed.parquet", fA),
      statsAdd = Seq(s"$fA|gt_probe|1|9|L", "phantom.parquet|x|0|1|L"))
    // v2: del fB and one synthetic; statsAdd for the re-added fA again
    // (replace v1's) and for the surviving synthetic
    delta(2, 1,
      add = Seq.empty,
      del = Seq(fB, "aa-synthetic-1.parquet"),
      statsAdd = Seq(s"$fA|gt_probe|2|8|L", "zz-synthetic-2.parquet|x|5|6|L"))
    val snap = Snapshots.snapshot(root, "gt").get
    // ---- naive ground truth: full set/map rebuild per delta ----
    case class D(add: Seq[String], del: Set[String],
                 statsAdd: Seq[(String, String, Long, Long, String)])
    val deltas = Seq(
      D(Seq("zz-synthetic-2.parquet", "aa-synthetic-1.parquet", fA),
        Set("never-existed.parquet", fA),
        Seq((fA, "gt_probe", 1L, 9L, "L"), ("phantom.parquet", "x", 0L, 1L, "L"))),
      D(Seq.empty, Set(fB, "aa-synthetic-1.parquet"),
        Seq((fA, "gt_probe", 2L, 8L, "L"), ("zz-synthetic-2.parquet", "x", 5L, 6L, "L"))))
    var files = v0.files.toSet
    var stats = v0.stats.map(st => (st.file, st.column, st.typ) -> (st.min, st.max)).toMap
    deltas.foreach { d =>
      files = files -- d.del ++ d.add
      // old ground truth: a stat survives iff its file is in the FULL
      // new set; incoming statsAdd replaces by (file, column, typ)
      stats = stats.filter { case ((f, _, _), _) => files.contains(f) }
      d.statsAdd.foreach { case (f, c, lo, hi, t) =>
        if (files.contains(f)) stats += ((f, c, t) -> (lo, hi)) }
    }
    assert(snap.files.sorted == files.toSeq.sorted)
    assert(snap.files == snap.files.sorted, "fold must emit canonical order")
    val foldStats = snap.stats.map(st => (st.file, st.column, st.typ) -> (st.min, st.max)).toMap
    assert(foldStats == stats,
      s"fold=\n${foldStats.toSeq.sortBy(_._1.toString).mkString("\n")}\n" +
        s"truth=\n${stats.toSeq.sortBy(_._1.toString).mkString("\n")}")
    assert(foldStats.contains((fA, "gt_probe", "L")) &&
      foldStats((fA, "gt_probe", "L")) == ((2L, 8L)), "v2 statsAdd must replace v1's")
    assert(!foldStats.keys.exists(_._1 == "phantom.parquet"))
  }

  test("malformed delta: phantom statsAdd (file absent from the set) drops at fold and never persists") {
    // round-11 advisor finding: the O(delta) stats fold appends
    // statsAdd unconditionally and every LATER fold relies on
    // stats ⊆ files; a hand-written delta whose statsAdd names a file
    // outside the set would leak a phantom stat through every
    // subsequent delta (harmless for reads — the file is never
    // scanned — but an invariant violation the delta-sized survival
    // check silently builds on). The fold now probes the sorted file
    // list (O(delta · log n)) and drops phantoms at the offending
    // delta itself.
    val root = tempDir("graft_dlog").toString
    ProduceJob.produceBatch(spark, root, "ph", topics = 1, numMessages = 20)
    val snap0 = Snapshots.snapshot(root, "ph").get
    val realFile = snap0.files.head
    Files.writeString(Paths.get(s"$root/ph._log/v00001.json"),
      s"""{"version": 1, "fmt": 2, "op": "append", "maxPos": 19, "add": [], "del": [], "removed": [], "txnsAdd": [], "statsAdd": ["part-phantom.parquet|ba|0|9|L", "$realFile|zz_probe|0|19|L"], "parent": "0"}""")
    val snap1 = Snapshots.snapshot(root, "ph").get
    assert(snap1.version == 1)
    assert(!snap1.stats.exists(_.file == "part-phantom.parquet"),
      "phantom statsAdd must be dropped at the malformed delta")
    assert(snap1.stats.exists(st => st.file == realFile && st.column == "zz_probe"),
      "a statsAdd naming a CARRIED file is legitimate and must land")
    // the invariant holds through later healthy commits too
    ProduceJob.produceBatch(spark, root, "ph", topics = 1, numMessages = 5)
    val snap2 = Snapshots.snapshot(root, "ph").get
    assert(snap2.version == 2)
    assert(!snap2.stats.exists(_.file == "part-phantom.parquet"))
    assert(snap2.stats.forall(st => snap2.files.contains(st.file)),
      "stats ⊆ files must hold after folding past a malformed delta")
    assert(Snapshots.read(spark, root, "ph").count() == 25)
  }

  test("UNSORTED legacy manifest: the O(n) merge fold falls back to a sort, never mis-orders") {
    // the round-11 fold keeps the file list sorted via a two-pointer
    // merge that ASSUMES sorted inputs (the write path guarantees it);
    // a hand-written pre-round-9 manifest carries no such guarantee —
    // pin the verify-and-fallback so delta folds over it still produce
    // the canonical sorted file list (and the read still sees all rows)
    val root = tempDir("graft_dlog").toString
    val rows = ProduceJob.personProjection(
      spark.range(20).toDF("cnt"), "cnt", "ulg", 1)
    rows.write.mode("append").partitionBy("topic")
      .parquet(Topics.tableDir(root, "ulg"))
    val legacyFiles = {
      val b = Paths.get(Topics.tableDir(root, "ulg"))
      val s = Files.walk(b)
      try s.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => b.relativize(p).toString).toSeq.sorted
      finally s.close()
    }
    assert(legacyFiles.size > 1, "needs >1 file to be order-sensitive")
    // REVERSED file order — a sorted-input merge would emit this verbatim
    val legacy = legacyFiles.reverse.map(f => "\"" + f + "\"").mkString("[", ", ", "]")
    Files.createDirectories(Paths.get(s"$root/ulg._log"))
    Files.writeString(Paths.get(s"$root/ulg._log/v00000.json"),
      s"""{"version": 0, "op": "append", "maxPos": 19, "files": $legacy, "removed": [], "txns": [], "stats": []}""")
    ProduceJob.produceBatch(spark, root, "ulg", topics = 1, numMessages = 5)
    val snap = Snapshots.snapshot(root, "ulg", None).get
    assert(snap.version == 1)
    assert(snap.files == snap.files.sorted, "fold must emit the canonical order")
    assert(legacyFiles.toSet.subsetOf(snap.files.toSet))
    assert(Snapshots.read(spark, root, "ulg").count() == 25)
  }

  test("any txn id commits and replays idempotently") {
    // the log codec escapes every string, so txn ids need no charset of
    // their own: quotes, brackets, backslashes and control characters
    // commit, carry through checkpoints, and replay as no-ops
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      ProduceJob.produceBatch(spark, root, "tx", topics = 1, numMessages = 20)
      val ids = Seq("a\"b", "a]b", "a\\b", "a\nb", "a|b", "a,b")
      ids.foreach { id =>
        val v = Snapshots.commit(root, "tx", maxPos = 19, txn = Some(id))
        assert(Snapshots.snapshot(root, "tx", None).get.txns.contains(id))
        assert(Snapshots.commit(root, "tx", maxPos = 19, txn = Some(id)) == v)
      }
      assert(Snapshots.versions(root, "tx") == (0 to ids.size))
      assert(Snapshots.snapshot(root, "tx", None).get.txns == ids)
      // the staged-commit audit id keeps its charset contract
      val ea = intercept[IllegalArgumentException] {
        Snapshots.commitStaged(root, "tx", maxPos = 19, audit = "a\"b")
      }
      assert(ea.getMessage.contains("audit id"), ea.getMessage)
      assert(Snapshots.read(spark, root, "tx").count() == 20)
    } finally Snapshots.checkpointInterval = iv
  }

  test("a column named p|q gets manifest stats and prunes files") {
    // stats are objects in the log, so no column name loses its stats
    val root = tempDir("graft_dlog").toString
    val dir = Topics.tableDir(root, "hz")
    Seq(0L -> 50L, 50L -> 100L).foreach { case (lo, hi) =>
      spark.range(lo, hi).selectExpr("id AS k", "id * 2 AS `p|q`").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    Snapshots.commit(root, "hz", maxPos = 0)
    val snap = Snapshots.snapshot(root, "hz", None).get
    assert(snap.files.size == 2)
    assert(snap.stats.exists(st => st.column == "p|q" && st.typ == "L"),
      s"no p|q stat: ${snap.stats.map(_.column).distinct}")
    // a filter on it opens only the file whose range it can match
    assert(prunedFiles(root, "hz", Snapshots.StatRange.longRange("p|q", 0, 10)).size == 1)
    assert(Snapshots.readWhere(spark, root, "hz", col("p|q").between(0L, 10L)).count() == 6)
    val df = Snapshots.read(spark, root, "hz")
    assert(df.count() == 100)
    assert(df.selectExpr("sum(`p|q`)").head().getLong(0) == (0L until 100L).map(_ * 2).sum)
  }

  test("a log entry with control chars is carried into its checkpoint") {
    // a writer before the codec could leave a raw newline inside a txn
    // id; the reader accepts it, and the boundary checkpoint carries
    // it, escaped, like any other string
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 2
    try {
      ProduceJob.produceBatch(spark, root, "lc", topics = 1, numMessages = 20) // v0
      val v0 = Paths.get(s"$root/lc._log/v00000.json")
      val raw = Files.readString(v0)
      assert(!raw.contains("txnsAdd") && raw.trim.endsWith("}"), raw.take(300))
      Files.writeString(v0, raw.trim.stripSuffix("}") + ", \"txnsAdd\": [\"bad\ntxn\"]}")
      assert(Snapshots.snapshot(root, "lc", None).get.txns == Seq("bad\ntxn"))
      ProduceJob.produceBatch(spark, root, "lc", topics = 1, numMessages = 5) // v1
      ProduceJob.produceBatch(spark, root, "lc", topics = 1, numMessages = 5) // v2 = boundary
      ProduceJob.produceBatch(spark, root, "lc", topics = 1, numMessages = 5) // v3
      assert(Snapshots.versions(root, "lc") == Seq(0, 1, 2, 3))
      val ckpt = Paths.get(s"$root/lc._log/v00002.ckpt.json")
      assert(Files.isRegularFile(ckpt), "the boundary checkpoint must be written")
      val body = Files.readString(ckpt)
      assert(body.contains("\"bad\\ntxn\"") && !body.contains("bad\ntxn"), body.take(300))
      assert(CommitLog.decode(Files.readAllBytes(ckpt)).txns == Seq("bad\ntxn"))
      val leftover = {
        val s2 = Files.list(Paths.get(s"$root/lc._log"))
        try s2.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.contains(".tmp-") || n.contains(".cmp-")).toSeq
        finally s2.close()
      }
      assert(leftover.isEmpty, s"leaked temp files: $leftover")
      // resolution through the checkpoint keeps rows and the txn
      assert(Snapshots.read(spark, root, "lc").count() == 35)
      assert(Snapshots.snapshot(root, "lc", None).get.txns == Seq("bad\ntxn"))
    } finally Snapshots.checkpointInterval = iv
  }

  test("checkpoint REPLACEMENT is atomic: a racing reader sees old or new bytes, never a partial; temps never linger") {
    // round-12 advisor (c): when a commit finds an abandoned/corrupt
    // checkpoint at its version it repairs it via temp-write +
    // ATOMIC_MOVE — a reader polling that path must only ever observe
    // the pre-existing bytes or the WHOLE new checkpoint, never a
    // truncated new one, and no .cmp-*/.tmp-* intermediate survives.
    val root = tempDir("graft_dlog").toString
    val iv = Snapshots.checkpointInterval
    Snapshots.checkpointInterval = 1 // a checkpoint per commit
    try {
      ProduceJob.produceBatch(spark, root, "cw", topics = 1, numMessages = 10)
      val logDir = Paths.get(s"$root/cw._log")
      val garbage = "{\"version\": 0, \"TRUNCATED"
      val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
      (1 until 13).foreach { v =>
        // plant an abandoned checkpoint at the version the NEXT commit
        // will claim — its writeTo hits FileAlreadyExists, compares,
        // and atomically replaces the stale bytes
        val ckpt = logDir.resolve(f"v$v%05d.ckpt.json")
        Files.writeString(ckpt, garbage)
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val reader = new Thread(() => {
          while (!stop.get()) {
            try {
              val txt = Files.readString(ckpt)
              val whole = txt.startsWith("{") && txt.trim.endsWith("}") &&
                txt.contains("\"refsEver\":")
              if (txt != garbage && !whole)
                bad.compareAndSet(null, s"partial checkpoint at v$v: ${txt.take(200)}")
            } catch { case _: java.io.IOException => () }
          }
        })
        reader.start()
        ProduceJob.produceBatch(spark, root, "cw", topics = 1, numMessages = 5)
        stop.set(true); reader.join(10000)
        assert(bad.get() == null, String.valueOf(bad.get()))
        // the repair REPLACED the garbage with the real checkpoint
        val fin = Files.readString(ckpt)
        assert(fin.startsWith("{") && fin.trim.endsWith("}") &&
          fin.contains("\"refsEver\":"), fin.take(200))
      }
      // no .tmp-* / .cmp-* intermediates survive
      val leftover = {
        val s2 = Files.list(logDir)
        try s2.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.contains(".tmp-") || n.contains(".cmp-")).toSeq
        finally s2.close()
      }
      assert(leftover.isEmpty, s"leaked temp files: $leftover")
    } finally Snapshots.checkpointInterval = iv
  }

  test("one commit path: a racer that lands mid-attempt pushes the commit to the next version") {
    val root = tempDir("graft_dlog").toString
    ProduceJob.produceBatch(spark, root, "oc", topics = 1, numMessages = 10)
    val s0 = Snapshots.snapshot(root, "oc").get
    var calls = 0
    val v = Snapshots.commitNext(root, "oc", "append") { head =>
      calls += 1
      val h = head.get
      // the racer commits after this attempt listed the log and before
      // it writes: the attempt's version is taken
      if (calls == 1)
        Snapshots.writeSnapshot(root, "oc", h.version + 1, h.maxPos,
          (h.files :+ "topic=oc/racer.parquet").sorted, Seq.empty,
          txns = h.txns, stats = h.stats, parent = Some(h))
      Right(Snapshots.NextState.carry(h).copy(files = (h.files :+ "topic=oc/mine.parquet").sorted))
    }
    assert(calls == 2)
    assert(v == s0.version + 2)
    val s = Snapshots.snapshot(root, "oc").get
    assert(s.version == v)
    assert(s.files.toSet == s0.files.toSet + "topic=oc/racer.parquet" + "topic=oc/mine.parquet")
  }

  test("one commit path: a commit that loses every race gives up after CommitAttempts attempts") {
    val root = tempDir("graft_dlog").toString
    ProduceJob.produceBatch(spark, root, "ol", topics = 1, numMessages = 10)
    var calls = 0
    intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.commitNext(root, "ol", "append") { head =>
        calls += 1
        val h = head.get
        Snapshots.writeSnapshot(root, "ol", h.version + 1, h.maxPos, h.files, Seq.empty,
          txns = h.txns, stats = h.stats, parent = Some(h))
        Right(Snapshots.NextState.carry(h))
      }
    }
    assert(calls == Snapshots.CommitAttempts)
    // v0 plus one racer per attempt; the loser wrote nothing
    assert(Snapshots.versions(root, "ol") == (0 to Snapshots.CommitAttempts))
  }

  test("one commit path: a same-audit stager that wins the race is the staging's version") {
    val root = tempDir("graft_dlog").toString
    ProduceJob.produceBatch(spark, root, "os", topics = 1, numMessages = 100)
    ProduceJob.personProjection(spark.range(100, 150).toDF("cnt"), "cnt", "os", 1)
      .write.mode("append").partitionBy("topic").parquet(Topics.tableDir(root, "os"))
    // the idempotent lookup has run and found nothing
    val seen = Snapshots.versions(root, "os")
    var racer = -1
    val v = Snapshots.commitNext(root, "os", "staged") { head =>
      val next = Snapshots.stageNext(root, "os", 149, "a1", seen)(head)
      // a second stager of the same audit id commits after this
      // attempt's check and before its write
      if (racer < 0) racer = Snapshots.commitStaged(root, "os", 149, audit = "a1")
      next
    }
    assert(v == racer)
    assert(Snapshots.versions(root, "os") == seen :+ racer)
    assert(Snapshots.read(spark, root, "os").count() == 100)
    Snapshots.publish(root, "os", "a1")
    assert(Snapshots.read(spark, root, "os").count() == 150)
  }

  test("one commit path: concurrent UPDATE and append both commit and conserve rows") {
    val root = tempDir("graft_dlog").toString
    ProduceJob.produceBatch(spark, root, "cc", topics = 1, numMessages = 200)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 3).foreach { round =>
        val before = Snapshots.read(spark, root, "cc").localCheckpoint()
        val (rows, ages) = (before.count(),
          before.agg(sum("age")).head().getLong(0))
        val hits = before.filter(col("ba") < 50).count()
        // the appended batch copies the pre-UPDATE rows under new keys
        val batch = before.withColumn("ba", col("ba") + round * 1000L).localCheckpoint()
        val up = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = Snapshots.updateWhere(spark, root, "cc",
            col("ba") < 50, Seq("age" -> (col("age") + 1)))
        })
        val ap = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = Snapshots.appendBatch(spark, root, "cc", batch,
            partitionCols = Seq("topic"))
        })
        val (vu, va) = (up.get(), ap.get())
        assert(vu != va)
        val after = Snapshots.read(spark, root, "cc")
        assert(after.count() == 2 * rows)
        assert(after.agg(sum("age")).head().getLong(0) == 2 * ages + hits)
        assert(Snapshots.snapshot(root, "cc").get.version == (vu max va))
      }
    } finally pool.shutdown()
  }
}
