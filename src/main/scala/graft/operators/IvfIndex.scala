package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-style (inverted-file) ANN index: a deterministic coarse
  * quantizer partitions the corpus into cells; a probe searches only
  * the `nprobe` cells nearest to it.
  *
  * Index build = one pass assigning each vector to its nearest
  * centroid (centroids are driver-side literals — k vectors of
  * metadata, like any index definition). Persisted with
  * `partitionBy("cell")`, a probe's scan prunes to nprobe partitions —
  * at 100 TB the search reads nprobe/k of the corpus instead of all
  * of it, and the pruning happens at the file-listing level.
  *
  * Centroid seeding is deterministic (lowest-id vectors + one mean
  * refinement pass), so index builds are reproducible run to run.
  */
object IvfIndex {

  /** Deterministic centroids: seed with the k lowest-id vectors, then
    * one Lloyd refinement pass (assign → per-dimension mean). The seed
    * choice fixes the result; the refinement only improves cell
    * balance. Means are quantized to micros so the centroids are
    * exactly reproducible by any engine (summation-order ulp noise in
    * AVG cannot leak into cell assignment — required for the q67
    * cross-engine oracle replay). */
  def centroids(emb: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Seq[Double]] = {
    val vecs = emb.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val seeds = vecs.orderBy(col("id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    val means = assignCells(vecs, "v", seeds)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos").agg((round(avg("x") * lit(1e6)) / lit(1e6)).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("mean"))
      .collect().map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1)).toMap
    (0 until k).map(i => means.getOrElse(i, seeds(i)).toSeq)
  }

  /** Assign each row to its nearest centroid cell (argmin index; ties
    * break to the LOWEST cell, matching the oracle's
    * `list_position(ds, list_min(ds))` first-occurrence rule).
    *
    * Implemented as ONE native Catalyst expression holding the whole
    * k×dim centroid matrix as expression state
    * ([[graft.functions.NearestCell]]) — a single tree node at ANY k,
    * so the k-wide literal form's planning degeneration (k=447 never
    * finished planning; see BENCH_NOTES round 10) cannot occur, and
    * unlike the round-10 RDD `mapPartitions` kernel it stays inside
    * whole-stage codegen with no Row round-trip. Zero shuffle,
    * O(n·k·dim) flops, and the per-dimension accumulation order is
    * IDENTICAL to the HOF fold the DuckDB oracle replays (strict
    * left-to-right adds), so assignments stay bit-reproducible
    * cross-engine — [[assignCellsKernel]] keeps the old kernel as the
    * spec's equality reference. */
  def assignCells(df: DataFrame, vecCol: String, cs: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    graft.functions.NearestCell.register(df.sparkSession)
    df.withColumn("cell",
      graft.functions.NearestCell.cell(col(vecCol), cs.map(_.toSeq)))
  }

  /** The round-10 per-partition kernel (MLlib KMeans' shape), kept as
    * the bit-equality reference for the NearestCellSpec pairing — NOT
    * on any query path. */
  private[graft] def assignCellsKernel(df: DataFrame, vecCol: String,
                                       cs: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add("cell", org.apache.spark.sql.types.IntegerType,
      nullable = false)
    val vIdx = df.schema.fieldIndex(vecCol)
    val cents: Array[Array[Double]] = cs.map(_.toArray).toArray
    val rdd = df.rdd.mapPartitions { it =>
      it.map { row =>
        val v = row.getSeq[Double](vIdx)
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var d = 0.0
          var i = 0
          while (i < cent.length) { val t = v(i) - cent(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c } // strict <: first min wins
          c += 1
        }
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ best)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Cell count as a function of corpus size — IVF practice (k ≈ √n,
    * floor 16): in-cell pair work for the blocked operators (SemDeDup,
    * decontamination, blocked SMOTE, label noise) is Σ|cell|² ≈ n²/k,
    * so a FIXED k degrades to quadratic as the corpus grows, while
    * k = √n keeps expected per-cell size at √n and total pair work at
    * n^1.5 — sub-quadratic at any scale. Both engines compute this
    * identically (IEEE sqrt is correctly rounded; floor matches
    * DuckDB's `GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))`). */
  def scaledK(n: Long): Int =
    math.max(16, math.floor(math.sqrt(n.toDouble)).toInt)

  /** Build the index relation: (id, v, cell). */
  def build(emb: DataFrame, idCol: String, vecCol: String, k: Int = 16): (DataFrame, Seq[Seq[Double]]) = {
    val cs = centroids(emb, idCol, vecCol, k).map(_.toIndexedSeq).toIndexedSeq
    val indexed = assignCells(
      emb.select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v")),
      "v", cs)
    (indexed, cs.map(_.toSeq))
  }

  /** Persist the index partitioned by cell: each cell becomes its own
    * partition directory, so a probe's `cell IN (...)` filter prunes
    * at the FILE-LISTING level — the search opens nprobe/k of the
    * corpus's files, never scan-then-discard. (Doubles round-trip
    * parquet bit-exactly, so a search over the persisted table equals
    * one over the in-memory frame.) */
  def persist(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Centroid sidecar inside the index dir. The underscore prefix
    * keeps it out of Spark's parquet file listing (same convention as
    * _SUCCESS), so the index table and its quantizer travel as ONE
    * staged artifact: a search run reads k·dim doubles from the
    * sidecar instead of recomputing the quantizer (a seed-collect plus
    * a Lloyd-pass aggregation — two driver jobs) on every probe. */
  private val CentroidFile = "_centroids.txt"

  /** Write centroids next to the index files. One line per centroid,
    * comma-separated `Double.toString` values — `toString/parseDouble`
    * round-trips doubles bit-exactly, so a reloaded quantizer assigns
    * identical cells. */
  def writeCentroids(cs: Seq[Seq[Double]], indexPath: String): Unit = {
    val body = cs.map(_.mkString(",")).mkString("\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(indexPath, CentroidFile),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Read the centroid sidecar written by [[writeCentroids]]. */
  def readCentroids(indexPath: String): Seq[Seq[Double]] =
    new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(indexPath, CentroidFile)),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq
      .map(_.split(",").toSeq.map(_.toDouble))

  /** Search: scan only the nprobe cells nearest to the probe vector.
    * On a partitioned index table the cell filter prunes partitions. */
  def search(index: DataFrame, cs: Seq[Seq[Double]], probe: Seq[Double],
             nprobe: Int, topK: Int): DataFrame = {
    val nearestCells = cs.zipWithIndex
      .map { case (c, i) => i -> c.zip(probe).map { case (a, b) => (a - b) * (a - b) }.sum }
      .sortBy(_._2).take(nprobe).map(_._1)
    val pv = array(probe.map(lit): _*)
    index.filter(col("cell").isin(nearestCells: _*))
      .select(col("id"), AnnLsh.cosine(col("v"), pv).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(topK)
  }
}
