package graft

import org.apache.spark.sql.SparkSession

/** Session factory: one place for every config the engine depends on.
  *
  * Determinism / oracle parity (SURVEY.md §2B):
  *  - session timezone UTC (DuckDB compares naive timestamps),
  *  - parquet timestamps written as INT64 micros (so DuckDB reads the
  *    exact same values back, no INT96 legacy rebasing),
  *  - nanosecond parquet timestamps (events.ts) surfaced as Long nanos
  *    via `spark.sql.legacy.parquet.nanosAsLong`; [[Tables.events]]
  *    converts to TimestampType by flooring to micros, which matches
  *    DuckDB's TIMESTAMP_NS -> TIMESTAMP cast.
  *
  * Scale: shuffle partitions default to the local core budget, not 200.
  * On a real cluster this would be `spark.sql.shuffle.partitions` sized
  * to ~2-3x total executor cores with AQE coalescing down; AQE is on so
  * small stages shrink automatically either way.
  */
object GraftSession {

  /** Apply engine configs to an existing builder (used by Verify/Bench
    * which own their master/cpu settings). */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    // native-function + optimizer-rule pack (FuseDotProduct/FuseCosine
    // rewrite the HOF dot/cosine idiom into fused codegen expressions;
    // graft_l2/graft_cosine/graft_tokenize/graft_cdc_bounds resolve in
    // SQL): installed in EVERY engine session, the same line a cluster
    // deployment would carry
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // the snapshot layer as a catalog: CREATE/ALTER/DROP TABLE,
    // VERSION/TIMESTAMP AS OF in SQL, CALL graft.system.* maintenance
    .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    .config("spark.sql.catalog.graft.warehouse", "/tmp/graft/lake")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft/warehouse")
    .config("spark.ui.enabled", "false")
    // local[n] has no dynamic executors; keep broadcast threshold default
    // (10MB) — all dim tables here fit comfortably.
    .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // runtime bloom-filter join pruning: selective dim-side filters
    // prune the fact scan at runtime — at 100 TB this is the difference
    // between scanning the filtered fraction and the whole fact table
    // on shuffled (non-broadcast) joins
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // r15 write-path overhead (guide §5/§6): every snapshot commit pays
    // the Hadoop committer's driver-side file ops per write job.
    // Algorithm v2 commits task output straight into the destination
    // (no second whole-job rename pass in commitJob), and the _SUCCESS
    // marker buys nothing here — writeStaged deletes its staging
    // skeleton and the snapshot LOG is the atomicity boundary, never
    // the marker. Fewer fs metadata ops per write at any scale; on
    // object stores this is the standard recommendation for exactly
    // this reason.
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    // v2 is not atomic: each task commit moves output straight into the
    // destination, so a failed job leaves partial output and racing
    // attempts of one task can both land (MAPREDUCE-7282). It is safe
    // here only under two invariants: every data, CDC and DV write
    // goes to a staging or UUID directory that no snapshot references
    // until the log commit, and speculation stays off (set here, not
    // left to the default). A write path straight into a table
    // directory would break the first.
    .config("spark.speculation", "false")
    // without libhadoop (Hadoop's native library) the stock local
    // filesystem forks a `chmod` per created file and directory; this
    // one sets the same bits in-process (.crc checksums unchanged)
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  /** Local session for tests / ad-hoc mains. */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors.min(32),
            shufflePartitions: Int = 32): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
