package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization (PQ) ANN index: split each d-dim vector into M
  * subvectors, learn a K-centroid codebook per subspace, and store
  * every vector as M small codes — 64 floats (256 B) become 8 bytes,
  * the 32× memory lever that makes billion-vector search fit a
  * cluster's RAM at 100 TB corpus scale. Search is asymmetric distance
  * computation (ADC): the probe builds an M×K lookup table of exact
  * subspace distances once, then every candidate's distance is M table
  * lookups — no float vectors are ever read at query time.
  *
  * Determinism mirrors [[IvfIndex]] (the q67 cross-engine protocol):
  * codebooks seed from the K lowest-id vectors' subvectors, refine
  * with exactly one Lloyd pass whose per-dimension means are quantized
  * to micros, and every distance is a fixed-order left fold — so an
  * independent engine replays codebooks, codes, and ADC scores
  * bit-for-bit.
  */
object PqIndex {

  /** Distance-squared between a vector column and a literal centroid —
    * a left fold in index order, the cross-engine-stable summation. */
  private def dist2(v: Column, c: Seq[Double]): Column =
    aggregate(zip_with(v, array(c.map(lit): _*), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Subvector j (0-based) of a full vector column; `subLen` dims. */
  private def sub(v: Column, j: Int, subLen: Int): Column =
    slice(v, j * subLen + 1, subLen)

  /** Deterministic per-subspace codebooks: seed each subspace with the
    * K lowest-id vectors' subvectors, then one micros-rounded Lloyd
    * pass. One corpus pass assigns ALL subspaces at once (explode to
    * (id, j, subvector) — M·rows, each 1/M the width); empty cells
    * fall back to their seed, exactly like [[IvfIndex.centroids]].
    * Result: codebooks(j)(k) = centroid k of subspace j. */
  def codebooks(emb: DataFrame, idCol: String, vecCol: String,
                m: Int, k: Int): Seq[Seq[Seq[Double]]] = {
    val dim = emb.select(size(transform(col(vecCol), x => x.cast("double"))))
      .head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    val vecs = emb.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val seedVecs = vecs.orderBy(col("id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toIndexedSeq)
    val seeds: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until m).map(j => seedVecs.map(_.slice(j * subLen, (j + 1) * subLen)).toIndexedSeq)
    // (id, j, sv) exploded once; per-row distances against that row's
    // OWN subspace seeds: the nested seed literal is indexed by j and
    // bound through the transform lambda (materialized lambda var —
    // the MinHash HOF-binding lesson), so each row computes exactly K
    // subspace distances
    val subs = vecs.select(col("id"), posexplode(
      array((0 until m).map(j => sub(col("v"), j, subLen)): _*)).as(Seq("j", "sv")))
    val seedsLit = array(seeds.map(js =>
      array(js.map(c => array(c.map(lit): _*)): _*)): _*)
    val assigned = subs.withColumn("cell", {
      val ds = transform(element_at(seedsLit, col("j") + 1),
        c => aggregate(zip_with(col("sv"), c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(ds, array_min(ds)) - 1).cast("int")
    })
    val means = assigned
      .select(col("j"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("j", "cell", "pos")
      .agg((round(avg("x") * lit(1e6)) / lit(1e6)).as("mmean"))
      .groupBy("j", "cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mmean")))),
        s => s.getField("mmean")).as("mean"))
      .collect()
      .map(r => (r.getAs[Int]("j"), r.getAs[Int]("cell")) -> r.getSeq[Double](2))
      .toMap
    (0 until m).map(j => (0 until k).map(kk =>
      means.getOrElse((j, kk), seeds(j)(kk)).toSeq))
  }

  /** Encode every vector as M codes (argmin cell per subspace — the
    * compressed representation persisted instead of the floats). */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = cb.size
    val subLen = cb.head.head.size
    val vecs = emb.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val codes = array((0 until m).map { j =>
      val ds = array(cb(j).map(c => dist2(sub(col("v"), j, subLen), c)): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }: _*)
    vecs.select(col("id"), codes.as("codes"))
  }

  /** ADC search over an encoded relation: probe → M×K exact-distance
    * lookup table (driver arithmetic, fixed-order folds), candidate
    * distance = Σⱼ lut(j)(codeⱼ) via the same left fold. Returns topK
    * (id, dist_micros) by (raw distance, id). */
  def search(encoded: DataFrame, cb: Seq[Seq[Seq[Double]]],
             probe: Seq[Double], topK: Int): DataFrame = {
    val m = cb.size
    val subLen = cb.head.head.size
    val lut: Seq[Seq[Double]] = (0 until m).map { j =>
      val pj = probe.slice(j * subLen, (j + 1) * subLen)
      cb(j).map(c => pj.zip(c).foldLeft(0.0) { case (acc, (a, b)) =>
        acc + (a - b) * (a - b)
      })
    }
    val lutLit = array(lut.map(row => array(row.map(lit): _*)): _*)
    val dist = aggregate(
      zip_with(lutLit, col("codes"), (row, c) => element_at(row, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    encoded.withColumn("d", dist)
      .orderBy(col("d"), col("id"))
      .limit(topK) // TakeOrderedAndProject — sorted rows survive the projection
      .select(col("id"), round(col("d") * lit(1e6)).cast("bigint").as("dist_micros"))
  }

  /** Codebook sidecar (same convention as IvfIndex's `_centroids.txt`):
    * M·K lines, j-major, comma-separated `Double.toString` values —
    * bit-exact round-trip, so a reloaded codebook encodes and scores
    * identically. */
  private val CodebookFile = "_codebooks.txt"

  def writeCodebooks(cb: Seq[Seq[Seq[Double]]], indexPath: String): Unit = {
    val body = cb.flatMap(_.map(_.mkString(","))).mkString("\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(indexPath, CodebookFile),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  def readCodebooks(indexPath: String, m: Int): Seq[Seq[Seq[Double]]] = {
    val lines = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(indexPath, CodebookFile)),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq
      .map(_.split(",").toSeq.map(_.toDouble))
    require(lines.size % m == 0, s"codebook file has ${lines.size} lines, not a multiple of $m")
    lines.grouped(lines.size / m).toSeq // j-major: K consecutive lines per subspace
  }
}
