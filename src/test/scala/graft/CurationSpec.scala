package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Curation-operator laws that the oracle can't express: LSH recall of
  * exact duplicates, SimHash invariance, ANN candidate correctness,
  * multimodal stub shape. */
class CurationSpec extends SparkTestBase {

  test("q55 MinHash-LSH finds every injected exact duplicate at est=1.0") {
    val pairs = run("q55_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Double]("est_jaccard")))
    // every doc_id<10 was re-injected as id+100000 → exact dup pair
    val dups = pairs.filter { case (a, b, _) => b == a + 100000 }
    // identical docs share all shingles → identical signatures → always bucketed together
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 10).count()
    assert(dups.length == docs, s"found ${dups.length} of $docs injected dups")
    assert(dups.forall(_._3 == 1.0))
  }

  test("SimHash is deterministic and respects duplicate invariance") {
    val d = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), SimHash.simhash(split(col("text"), " ")).as("h"))
    val h1 = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == h2)
    assert(h1.values.forall(h => h >= 0 && h < (1L << 60)))
    // identical text → hamming 0
    val two = Tables.documents(spark, sf).filter(col("doc_id") === 0)
      .unionAll(Tables.documents(spark, sf).filter(col("doc_id") === 0))
      .select(SimHash.simhash(split(col("text"), " ")).as("h")).collect()
    assert(two(0).getLong(0) == two(1).getLong(0))
  }

  test("q63 ANN candidates score identically to brute force") {
    val ann = run("q63_ann_lsh").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("sim")).toMap
    val brute = run("q40_cosine_topk").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    // every ANN hit must carry the exact brute-force cosine for that id
    ann.foreach { case (id, sim) =>
      brute.get(id).foreach(b => assert(b == sim, s"id $id: ann=$sim brute=$b"))
    }
    // ANN searches one bucket → results ⊆ corpus, no self pair
    assert(!ann.contains(0L) && ann.nonEmpty)
  }

  test("q64 bucketed pairs: sim matches direct cosine for sampled pairs") {
    val pairs = run("q64_embedding_neardup").limit(20).collect()
    if (pairs.nonEmpty) {
      val ids = pairs.flatMap(r => Seq(r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).distinct
      val vecs = Tables.embeddings(spark, sf)
        .filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      pairs.foreach { r =>
        val expect = cos(vecs(r.getAs[Long]("a_id")), vecs(r.getAs[Long]("b_id")))
        assert(r.getAs[Double]("sim") == expect)
      }
    }
  }

  test("multimodal stub features are deterministic with the declared shape") {
    val out = run("q62_multimodal_features").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_bytes") > 0)
      assert(r.getAs[String]("digest").length == 32)
    }
    // digest equals md5 of the raw text (payload is the UTF-8 bytes)
    val d0 = Tables.documents(spark, sf).filter(col("doc_id") === 0)
      .select(md5(col("text"))).head().getString(0)
    assert(out.find(_.getAs[Long]("media_id") == 0L).get.getAs[String]("digest") == d0)
  }

  test("q66 as-of window join equals the q16 range-join formulation exactly") {
    val window = run("q66_asof_window").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[java.time.LocalDateTime]("last_click_ts"))
    val rangeJoin = run("q16_asof_join").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[java.time.LocalDateTime]("last_click_ts"))
    assert(window.sameElements(rangeJoin))
  }

  test("q67 IVF search scores match brute force; index covers the corpus") {
    val ivf = run("q67_ann_ivf").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("sim")).toMap
    assert(ivf.nonEmpty && !ivf.contains(0L))
    val brute = run("q40_cosine_topk").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    ivf.foreach { case (id, sim) =>
      brute.get(id).foreach(b => assert(math.abs(b - sim) < 1e-12, s"id $id: ivf=$sim brute=$b"))
    }
    // every vector lands in exactly one of the k cells
    val (index, _) = operators.IvfIndex.build(
      Tables.embeddings(spark, sf), "vec_id", "embedding", k = 16)
    val n = Tables.embeddings(spark, sf).count()
    assert(index.count() == n)
    assert(index.agg(org.apache.spark.sql.functions.countDistinct("id")).head().getLong(0) == n)
  }

  test("q202 PQ: codes cover the corpus; self-probe attains the ADC minimum; codebook round-trips") {
    val emb = Tables.embeddings(spark, sf)
    val cb = PqIndex.codebooks(emb, "vec_id", "embedding", m = 8, k = 16)
    assert(cb.size == 8 && cb.forall(_.size == 16) && cb.forall(_.forall(_.size == 8)))
    val enc = PqIndex.encode(emb, "vec_id", "embedding", cb).cache()
    val n = emb.count()
    assert(enc.count() == n)
    // every code is a valid cell id — 8 ints replace 64 floats (32×)
    assert(enc.filter(expr(
      "exists(codes, c -> c < 0 OR c >= 16) OR size(codes) != 8")).count() == 0)
    // ADC optimality: the probe's own codes hit the per-subspace minimum
    // of the lookup table, so NO vector can score strictly below the
    // probe itself — it must appear in the top-1 band of its own search
    val probe = emb.filter(col("vec_id") === 7)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0)
    val top = PqIndex.search(enc, cb, probe, topK = 10).collect()
    val selfScore = top.find(_.getLong(0) == 7L)
    assert(selfScore.isDefined, "probe vector missing from its own top-10")
    assert(top.head.getLong(1) == selfScore.get.getLong(1),
      "a vector scored strictly below the probe's ADC lower bound")
    // sidecar round-trip is bit-exact
    val dir = tempDir("graft_pq").toString
    PqIndex.writeCodebooks(cb, dir)
    assert(PqIndex.readCodebooks(dir, m = 8) == cb)
    enc.unpersist()
    ()
  }

  test("adaptiveCap is budget-monotonic and never admits more pair work than the budget") {
    val d = Tables.documents(spark, sf).limit(300)
      .select(col("doc_id").as("id"), col("text"))
    val caps = Seq(4, 8, 16, 32, 64, 128, 256)
    val small = MinHashLSH.adaptiveCap(d, "id", "text", pairBudget = 10L, caps)
    val mid = MinHashLSH.adaptiveCap(d, "id", "text", pairBudget = 2000L, caps)
    val huge = MinHashLSH.adaptiveCap(d, "id", "text", pairBudget = Long.MaxValue, caps)
    assert(small <= mid && mid <= huge)
    assert(huge == 256) // an unbounded budget admits every bucket
    // the chosen cap's admitted work really fits the budget (or is the floor)
    val sizes = MinHashLSH.candidatePairs(d, "id", "text", maxBucketSize = mid)
    assert(sizes.count() <= 2000L || mid == caps.min)
  }

  test("q203 incremental IVF: appended commits keep manifest cell-pruning effective") {
    import graft.ingest.Snapshots
    val rows = run("q203_ann_ivf_incremental").collect() // stages the index
    assert(rows.length == 10)
    // same (content-keyed) staged root the query used; the build thunk
    // must not run again
    val root = graft.queries.Fixtures.stagedDir(sf, "embeddings", "ivfinc_v3")(
      _ => fail("index should already be staged"))
    val snap = Snapshots.snapshot(root, "ix", None).get
    assert(snap.version == 1) // base commit + one incremental append
    // a single-cell probe opens a strict subset of the files — across
    // BOTH commits' files, since each was written range-clustered
    val pruned = prunedFiles(root, "ix",
      Snapshots.StatRange.longRange("cell", 3, 3))
    assert(pruned.nonEmpty && pruned.size < snap.files.size,
      s"pruned ${pruned.size} of ${snap.files.size}")
    // incremental rows really are served by pruned reads
    val all = Snapshots.read(spark, root, "ix")
    assert(all.filter(col("id") >= 400).count() > 0)
    assert(all.count() == Tables.embeddings(spark, sf).count())
  }

  test("q222 incremental inverted index: bucket stats prune across both commits") {
    import graft.ingest.Snapshots
    val rows = run("q222_inverted_incremental").collect() // stages the index
    assert(rows.length == 10)
    val root = graft.queries.Fixtures.stagedDir(sf, "documents", "invinc_v1")(
      _ => fail("index should already be staged"))
    val snap = Snapshots.snapshot(root, "inv", None).get
    assert(snap.version == 1) // base commit + one incremental append
    // a single-bucket term lookup opens a strict subset of the files
    val pruned = prunedFiles(root, "inv",
      Snapshots.StatRange.longRange("bucket", 3, 3))
    assert(pruned.nonEmpty && pruned.size < snap.files.size,
      s"pruned ${pruned.size} of ${snap.files.size}")
    // incremental postings really are served (new docs present)
    val all = Snapshots.read(spark, root, "inv")
    assert(all.filter(col("doc_id") >= 400).count() > 0)
  }

  test("persisted IVF index prunes partitions on cell filter") {
    val (index, _) = operators.IvfIndex.build(
      Tables.embeddings(spark, sf), "vec_id", "embedding", k = 16)
    val path = tempDir("graft_ivf").toString + "/index"
    index.write.mode("overwrite").partitionBy("cell").parquet(path)
    val reloaded = spark.read.parquet(path)
    val probed = reloaded.filter(col("cell").isin(0, 1))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan.take(1200))
    assert(probed.count() == index.filter(col("cell").isin(0, 1)).count())
  }

  test("langid returns a label from the profile set or 'und'") {
    val labels = run("q58_langid").collect().map(_.getAs[String]("predicted")).toSet
    val allowed = TextAnalysis.LangProfiles.map(_._1).toSet + "und"
    assert(labels.subsetOf(allowed))
  }

  test("fingerprint: equal normalized text ⇒ equal fingerprint (injected dups found)") {
    val rows = run("q61_fingerprint_dedup").collect()
    assert(rows.length >= 1)
    assert(rows.forall(_.getAs[Long]("n") >= 2))
  }

  test("int8 quantized cosine top-10 recalls most of the exact top-10") {
    val exact = run("q40_cosine_topk").collect().map(_.getAs[Long]("vec_id")).toSet
    val quant = run("q135_embedding_quantization").collect().map(_.getAs[Long]("vec_id")).toSet
    assert(exact.intersect(quant).size >= 8,
      s"quantized recall too low: ${exact.intersect(quant).size}/10")
  }
}
