package graft.perfbench

import java.nio.file.Paths

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** `olap_read`: a closed loop, one client, over a fixed set of
  * read-only declared queries taken from the `SparkEntry` registry.
  * Each pass runs every query once, in an order shuffled by the seed,
  * materialized through the `noop` sink. Row count and an
  * order-independent content hash ride the same execution through
  * `observe()` and are compared with the recorded expected values.
  * The loop runs whole passes until `--seconds` have elapsed, so every
  * run times the same query mix. */
final class OlapRead extends Workload {
  import OlapRead._

  val primary = "query"
  private var expected: Map[String, (Long, Long, Long)] = Map.empty
  private val recorded = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
  private var seq = 0
  /** Time inside the registry function and in materializing, timed passes only. */
  private var frameMs = 0.0
  private var materializeMs = 0.0

  def stage(ctx: Ctx): Unit = {
    expected = load(ctx.expectedFile)
    // fixture staging: register every table (file listing + footers)
    Tables.registerAll(ctx.spark, ctx.dataDir)
    all.foreach(q => require(SparkEntry.queries.contains(q), s"no declared query $q"))
  }

  /** One untimed pass in declared order, so the timed passes run warm
    * (JIT, codegen cache, fixture footers) whatever order the seed
    * picks. */
  def warmUp(ctx: Ctx): Unit = all.foreach(q => runQuery(ctx, q))

  def run(ctx: Ctx): Unit = {
    frameMs = 0
    materializeMs = 0
    var pass = 0
    while (!ctx.timeUp) {
      val order = new Random(ctx.seed * 1000003L + pass).shuffle(all)
      order.iterator.takeWhile(_ => ctx.maxOps <= 0 || ctx.ops.size < ctx.maxOps).foreach { q =>
        ctx.timed("query", q)(runQuery(ctx, q))(got => check(ctx, q, got))
      }
      pass += 1
    }
    ctx.detail("passes") = (pass.toDouble, "count")
  }

  private def check(ctx: Ctx, q: String, got: (Long, Long, Long)): Boolean =
    ctx.record match {
      case Some(_) => recorded(q) = got; true
      case None => expected.get(q).contains(got)
    }

  /** Frame + materialize one query; returns (rows, hash sum, xxhash xor). */
  private def runQuery(ctx: Ctx, q: String): (Long, Long, Long) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
    val t1 = System.nanoTime()
    seq += 1
    val obs = Observation(s"perfbench_${q}_$seq")
    val cols = df.columns.toSeq.map(c => df.col(s"`${c.replace("`", "``")}`"))
    val observed = df.observe(obs, count(lit(1)).as("n"),
      sum(hash(cols: _*).cast("long")).as("h"),
      bit_xor(xxhash64(cols: _*)).as("x"))
    // record mode keeps every output for the oracle cross-check
    ctx.record.foreach(dir => df.write.mode("overwrite").parquet(s"$dir/$q"))
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val t2 = System.nanoTime()
    frameMs += (t1 - t0) / 1e6
    materializeMs += (t2 - t1) / 1e6
    (m("n").asInstanceOf[Long],
      Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L),
      Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  def finish(ctx: Ctx): Seq[String] = {
    ctx.latency("query", "query")
    val n = ctx.ops.count(_.kind == "query")
    ctx.detail("queries_per_min") = (n / ctx.elapsedS * 60.0, "1/min")
    ctx.record.foreach { dir =>
      val queries = ListMap(recorded.toSeq.sortBy(_._1).map { case (q, (r, h, x)) =>
        q -> ListMap("rows" -> r, "hash" -> h, "xxhash" -> x)
      }: _*)
      Json.write(Paths.get(ctx.expectedFile),
        ListMap("scale" -> ctx.dataDir.split('/').last, "queries" -> queries), pretty = true)
      Json.write(Paths.get(s"$dir/oracle_sql.json"),
        SparkEntry.oracleSql.filter { case (k, _) => all.contains(k) })
    }
    val missing = if (ctx.record.isEmpty) all.filterNot(expected.contains) else Nil
    missing.map(q => s"no expected value recorded for $q")
  }

  override def layers(ctx: Ctx): Unit = {
    ctx.addLayer("queries.frame_ms", frameMs)
    ctx.addLayer("queries.materialize_ms", materializeMs)
    val opSpans = ctx.opSpans(Set("query")).filter(s => operatorQueries.contains(s.name))
    ctx.addLayer("operators.cpu_ms", opSpans.map(_.attrs.getOrElse("tasks.cpu_ms", 0.0)).sum)
    ctx.addLayer("operators.shuffle_bytes",
      opSpans.map(_.attrs.getOrElse("tasks.shuffle_write_bytes", 0.0)).sum)
  }
}

object OlapRead {
  /** SQL families: scan, join, aggregate, window, set and TPC-H shapes. */
  val sqlQueries: Seq[String] = Seq(
    "q01_scan_count", "q06_projection", "q09_join_agg", "q13_semi_join",
    "q19_global_agg", "q24_ranking", "q29_topk", "q103_tpch_q6_shape")

  /** Operator families: MinHash and SimHash dedup, cosine top-k,
    * TF-IDF and PageRank. */
  val operatorQueries: Seq[String] = Seq(
    "q55_minhash_lsh", "q56_simhash", "q40_cosine_topk", "q119_tfidf_top_terms",
    "q210_pagerank")

  val all: Seq[String] = sqlQueries ++ operatorQueries

  def load(file: String): Map[String, (Long, Long, Long)] = {
    val f = new java.io.File(file)
    if (file.isEmpty || !f.isFile) return Map.empty
    val qs = new ObjectMapper().readTree(f).get("queries")
    val it = qs.fieldNames()
    val out = mutable.Map.empty[String, (Long, Long, Long)]
    while (it.hasNext) {
      val k = it.next()
      val n = qs.get(k)
      out(k) = (n.get("rows").asLong, n.get("hash").asLong, n.get("xxhash").asLong)
    }
    out.toMap
  }
}
