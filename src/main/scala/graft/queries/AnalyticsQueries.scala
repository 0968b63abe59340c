package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryRegistry, Tables}
import graft.operators.MinHashLSH

/** Round-6 continuation: event-analytics and classification shapes the
  * surface did not yet declare — ordered funnel conversion, weekly
  * cohort retention, kNN majority-vote classification over embeddings,
  * and PMI-style collocation mining. Reference grounding: the events
  * stream is the consumer-side table of SURVEY §2A (A6/A7), and the
  * classification/collocation ops extend the LLM-pipeline north star
  * (SURVEY §2B "LLM-data-pipeline extension").
  *
  * Scale notes (100 TB):
  *  - funnel: three sequential min-aggregates + joins, ALL keyed on
  *    user_id — one hash partitioning reused across every stage
  *    (exchange reuse), per-user state is O(1);
  *  - retention: two shuffles on user_id then one on (cohort, offset);
  *    the distinct-user count is partial-aggregated map-side;
  *  - kNN: the probe batch broadcasts (bounded by construction), the
  *    corpus streams once, per-probe top-k plans as WindowGroupLimit
  *    — never a global sort;
  *  - collocations: one explode shuffle for bigram counts, unigram
  *    counts broadcast back (vocabulary ≪ corpus; Zipf), ranking is
  *    integer-exact rational arithmetic (no ln(), the round-1 float
  *    lesson — identical ordering to PMI at fixed N).
  */
object AnalyticsQueries extends QueryRegistry {

  /** Epoch microseconds of an event ts (TIMESTAMP_NTZ under the UTC
    * session, so the cast is an identity re-tag). */
  private def usOf(c: Column): Column = unix_micros(c.cast("timestamp"))

  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-fold dot product — bit-identical to DuckDB's
    * list_dot_product (sequential double accumulation). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** The synthetic doc graph shared by q210/q250/q252: undirected
    * i—i/2 and i—i/10 edges materialized as a directed edge list in
    * both directions (so per-src counts are full degrees). */
  private def docGraph(s: SparkSession, dir: String) = {
    val ids = Tables.documents(s, dir)
      .filter(col("doc_id") >= 1).select(col("doc_id").as("i"))
    val ed = ids.select(col("i").as("u"), expr("i div 2").as("v"))
      .unionAll(ids.filter(col("i") >= 10)
        .select(col("i").as("u"), expr("i div 10").as("v")))
      .filter(col("u") =!= col("v")).distinct()
    ed.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(ed.select(col("v").as("src"), col("u").as("dst")))
  }

  /** Statically-unrolled peel rounds for q250 — a structural constant
    * of the doc-graph topology (GraphSpec asserts fixpoint by then). */
  private val KcoreRounds = 8

  def defs: Seq[QueryDef] = Seq(

    // Ordered funnel: signup -> first view AFTER it -> first click
    // AFTER that -> first purchase AFTER that. Strict event-time
    // ordering per user (not mere presence), the standard product
    // funnel. One row out: per-step user counts + summed end-to-end
    // conversion latency.
    QueryDef("q206_funnel_conversion",
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
        def step(of: String, prev: org.apache.spark.sql.DataFrame,
                 prevCol: String, out: String) =
          e.filter(col("event_type") === of)
            .join(prev.select("user_id", prevCol), "user_id")
            .filter(col("ts") > col(prevCol))
            .groupBy("user_id").agg(min("ts").as(out))
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val s2 = step("view", s1, "t1", "t2")
        val s3 = step("click", s2, "t2", "t3")
        val s4 = step("purchase", s3, "t3", "t4")
        s1.join(s2.select("user_id", "t2"), Seq("user_id"), "left")
          .join(s3.select("user_id", "t3"), Seq("user_id"), "left")
          .join(s4.select("user_id", "t4"), Seq("user_id"), "left")
          .agg(
            count(col("t1")).as("n_signup"),
            count(col("t2")).as("n_view"),
            count(col("t3")).as("n_click"),
            count(col("t4")).as("n_purchase"),
            sum(usOf(col("t4")) - usOf(col("t1"))).cast("bigint").as("sum_latency_us"))
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
             |       WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
             |       WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1),
             |s4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM events e JOIN s3 USING (user_id)
             |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
             |SELECT COUNT(t1) AS n_signup, COUNT(t2) AS n_view,
             |  COUNT(t3) AS n_click, COUNT(t4) AS n_purchase,
             |  CAST(SUM(epoch_us(t4) - epoch_us(t1)) AS BIGINT) AS sum_latency_us
             |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
             |LEFT JOIN s4 USING (user_id)""".stripMargin)),

    // Weekly cohort retention matrix: cohort = epoch-week of a user's
    // first event (pure integer epoch-µs arithmetic, no calendar
    // semantics to drift between engines), offset = weeks since the
    // cohort week, cell = distinct active users.
    QueryDef("q207_retention_cohort",
      (s, dir) => {
        val wkUs = 604800000000L // 7 * 86400 * 1e6
        val e = Tables.events(s, dir)
          .select(col("user_id"),
            expr(s"unix_micros(cast(ts as timestamp)) div ${wkUs}L").as("wk"))
        val first = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
        e.join(first, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
          .agg(countDistinct("user_id").as("active_users"))
          .orderBy("cohort_wk", "offset_wk")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
             |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
             |SELECT cohort_wk, wk - cohort_wk AS offset_wk,
             |  COUNT(DISTINCT user_id) AS active_users
             |FROM e JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // kNN majority-vote classification: every 5th vector (id < 250,
    // a bounded probe batch at ANY scale factor) is classified by its
    // 10 nearest training neighbors under cosine; output is the label
    // confusion matrix. The train side streams once; top-k per probe
    // is the WindowGroupLimit rank-filter idiom (q146's shape).
    QueryDef("q208_knn_classify",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"), vecD(col("embedding")).as("v"))
        val test = broadcast(
          e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 250)
            .select(col("vec_id").as("qid"), col("label").as("true_label"),
              col("v").as("qv")))
        val train = e.filter(!(col("vec_id") % 5 === 0 && col("vec_id") < 250))
        val scored = train.crossJoin(test)
          .select(col("qid"), col("true_label"), col("label"), col("vec_id"),
            (dot(col("v"), col("qv")) /
              sqrt(dot(col("v"), col("v")) * dot(col("qv"), col("qv")))).as("sim"))
        val wTop = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
        val votes = scored.withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 10)
          .groupBy("qid", "true_label", "label")
          .agg(count(lit(1)).as("n"))
        val wVote = Window.partitionBy("qid").orderBy(col("n").desc, col("label"))
        votes.withColumn("vr", row_number().over(wVote))
          .filter(col("vr") === 1)
          .groupBy(col("true_label"), col("label").as("pred_label"))
          .agg(count(lit(1)).as("n_probes"))
          .orderBy("true_label", "pred_label")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |test AS (SELECT vec_id AS qid, label AS true_label, v AS qv
             |         FROM e WHERE vec_id % 5 = 0 AND vec_id < 250),
             |train AS (SELECT * FROM e WHERE NOT (vec_id % 5 = 0 AND vec_id < 250)),
             |scored AS (
             |  SELECT qid, true_label, label, vec_id,
             |    list_dot_product(v, qv) / sqrt(list_dot_product(v, v) * list_dot_product(qv, qv)) AS sim
             |  FROM train CROSS JOIN test),
             |votes AS (
             |  SELECT qid, true_label, label, COUNT(*) AS n FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             |    FROM scored) WHERE rn <= 10 GROUP BY 1, 2, 3)
             |SELECT true_label, label AS pred_label, COUNT(*) AS n_probes FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n DESC, label) AS vr
             |  FROM votes) WHERE vr = 1
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Collocation mining: adjacent-pair lift, the PMI ranking in
    // integer-exact rational form — score = floor(1e6·c_xy·N/(c_x·c_y)),
    // monotone in PMI at fixed N so the top-k is the PMI top-k. The
    // doc_id bound keeps every product inside BIGINT exactness at any
    // scale factor; min-support 5 drops the noise floor.
    QueryDef("q209_pmi_collocations",
      (s, dir) => {
        val d = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val bg = d.filter(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(toks) - 1), i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2))"))
            .as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        val uni = d.select(explode(col("toks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val n = d.select(explode(col("toks")).as("w")).agg(count(lit(1)).as("n_tok"))
        val cxy = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 5)
        cxy
          .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))), "w1")
          .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))), "w2")
          .crossJoin(broadcast(n))
          .select(col("w1"), col("w2"), col("c_xy"),
            floor(lit(1000000L) * col("c_xy") * col("n_tok") / (col("c_x") * col("c_y")))
              .cast("bigint").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
          .limit(20)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
             |           FROM documents WHERE doc_id < 500),
             |bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM (
             |         SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
             |         FROM d WHERE len(toks) >= 2)),
             |uni AS (SELECT unnest(toks) AS w FROM d),
             |cnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_tok FROM uni),
             |cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5)
             |SELECT w1, w2, c_xy,
             |  CAST(FLOOR(1000000 * c_xy * n_tok / (cx.c * cy.c)) AS BIGINT) AS lift_ppm
             |FROM cxy
             |JOIN cnt cx ON cx.w = cxy.w1
             |JOIN cnt cy ON cy.w = cxy.w2
             |CROSS JOIN n
             |ORDER BY lift_ppm DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Per-user event-rate anomaly days: a day is an outlier when its
    // event count sits more than 2σ from the user's own daily mean.
    // The z-test runs in EXACT integer arithmetic — (n·x − s)² >
    // 4·(n·Σx² − s²) is |x−μ| > 2σ cleared of divisions — so both
    // engines agree bit-for-bit with no sqrt/float variance drift.
    // Two shuffles total: (user, day) count, then user stats; the
    // flag join re-uses the user partitioning.
    QueryDef("q211_rate_outliers",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
          .groupBy("user_id", "day").agg(count(lit(1)).as("c"))
        val stats = daily.groupBy("user_id").agg(
          count(lit(1)).as("n"),
          sum("c").as("s"),
          sum(col("c") * col("c")).as("sq"))
        daily.join(stats, "user_id")
          .withColumn("is_outlier",
            ((col("n") * col("c") - col("s")) * (col("n") * col("c") - col("s")) >
              lit(4L) * (col("n") * col("sq") - col("s") * col("s"))).cast("int"))
          .groupBy("user_id")
          .agg(max("n").as("n_days"),
            max("s").as("n_events"),
            sum("is_outlier").cast("bigint").as("n_outlier_days"))
          .orderBy("user_id")
      },
      Some("""WITH daily AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |stats AS (
             |  SELECT user_id, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s,
             |    CAST(SUM(c * c) AS BIGINT) AS sq
             |  FROM daily GROUP BY 1)
             |SELECT user_id, MAX(n) AS n_days, MAX(s) AS n_events,
             |  CAST(SUM(CASE WHEN (n * c - s) * (n * c - s) > 4 * (n * sq - s * s)
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
             |FROM daily JOIN stats USING (user_id)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // PageRank, 3 statically-unrolled power iterations in integer-
    // exact scaled arithmetic — r(v) = 0.15 + 0.85·Σ r(u)/deg(u),
    // everything ×1e9 with floor division so both engines replay
    // bit-for-bit (no float accumulation order to drift). The link
    // topology is derived deterministically from the doc-id space
    // (parent i÷2 + decimal shortcut i÷10 — a hub-forming citation
    // shape; the text fixtures are i.i.d. word salad, so any graph
    // mined from their CONTENT is provably near-regular and ranks
    // constant). At scale each iteration is one shuffle on src (rank
    // join) + one on dst (contribution sum); degrees ride with the
    // rank state so the edge table is joined, never re-aggregated —
    // the standard edge-partitioned PR layout.
    QueryDef("q210_pagerank",
      (s, dir) => {
        val ids = Tables.documents(s, dir)
          .filter(col("doc_id") >= 1).select(col("doc_id").as("i"))
        val ed = ids.select(col("i").as("u"), expr("i div 2").as("v"))
          .unionAll(ids.filter(col("i") >= 10)
            .select(col("i").as("u"), expr("i div 10").as("v")))
          .filter(col("u") =!= col("v")).distinct()
        val edges = ed.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(ed.select(col("v").as("src"), col("u").as("dst")))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        var r = deg.select(col("src").as("id"), col("deg"),
          lit(1000000000L).as("r"))
        for (_ <- 1 to 3) {
          val sums = edges.join(r, edges("src") === r("id"))
            .select(col("dst"), expr("r div deg").as("c"))
            .groupBy("dst").agg(sum("c").as("s"))
          r = deg.select(col("src").as("id"), col("deg"))
            .join(sums, col("id") === col("dst"), "left")
            .select(col("id"), col("deg"),
              (lit(150000000L) + expr("(85 * coalesce(s, 0L)) div 100"))
                .as("r"))
        }
        r.orderBy(col("r").desc, col("id")).limit(10)
      },
      Some("""WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id >= 1),
             |ed AS (SELECT DISTINCT u, v FROM (
             |         SELECT i AS u, i // 2 AS v FROM ids
             |         UNION ALL SELECT i, i // 10 FROM ids WHERE i >= 10)
             |       WHERE u <> v),
             |e0 AS (SELECT u AS src, v AS dst FROM ed
             |       UNION ALL SELECT v, u FROM ed),
             |deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),
             |r0 AS (SELECT src AS id, deg, CAST(1000000000 AS BIGINT) AS r FROM deg),
             |r1 AS (SELECT d.src AS id, d.deg,
             |         CAST(150000000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
             |       FROM deg d LEFT JOIN (
             |         SELECT dst, CAST(SUM(r // deg) AS BIGINT) AS s
             |         FROM e0 JOIN r0 ON e0.src = r0.id GROUP BY dst) s ON d.src = s.dst),
             |r2 AS (SELECT d.src AS id, d.deg,
             |         CAST(150000000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
             |       FROM deg d LEFT JOIN (
             |         SELECT dst, CAST(SUM(r // deg) AS BIGINT) AS s
             |         FROM e0 JOIN r1 ON e0.src = r1.id GROUP BY dst) s ON d.src = s.dst),
             |r3 AS (SELECT d.src AS id, d.deg,
             |         CAST(150000000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
             |       FROM deg d LEFT JOIN (
             |         SELECT dst, CAST(SUM(r // deg) AS BIGINT) AS s
             |         FROM e0 JOIN r2 ON e0.src = r2.id GROUP BY dst) s ON d.src = s.dst)
             |SELECT id, deg, r FROM r3 ORDER BY r DESC, id LIMIT 10""".stripMargin)),

    // CEP-style pattern detection (the batch MATCH_RECOGNIZE shape):
    // three CONSECUTIVE 'error' events in a user's stream within 24
    // hours — consecutive in the full per-user sequence, so any
    // non-error between them resets the run, which a mere
    // count-per-window can't express. One shuffle (user partitioning
    // for the window); ties on ts break by event_id so the sequence
    // is total and both engines replay it identically.
    QueryDef("q213_event_pattern",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .withColumn("p1", lag("event_type", 1).over(w))
          .withColumn("p2", lag("event_type", 2).over(w))
          .withColumn("t2", lag("ts", 2).over(w))
        val bursts = e.filter(col("event_type") === "error" &&
          col("p1") === "error" && col("p2") === "error" &&
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("t2").cast("timestamp")) <= 86400000000L)
        bursts.groupBy("user_id")
          .agg(count(lit(1)).as("n_bursts"),
            min(unix_micros(col("t2").cast("timestamp"))).as("first_start_us"),
            max(unix_micros(col("ts").cast("timestamp"))).as("last_end_us"))
          .orderBy("user_id")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type, ts,
             |    LAG(event_type, 1) OVER w AS p1,
             |    LAG(event_type, 2) OVER w AS p2,
             |    LAG(ts, 2) OVER w AS t2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, COUNT(*) AS n_bursts,
             |  MIN(epoch_us(t2)) AS first_start_us,
             |  MAX(epoch_us(ts)) AS last_end_us
             |FROM seq
             |WHERE event_type = 'error' AND p1 = 'error' AND p2 = 'error'
             |  AND epoch_us(ts) - epoch_us(t2) <= 86400000000
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // BM25 ranking (k1=1.2, b=0.75) for a 3-term query, in integer-
    // exact rational arithmetic: multiplying the Robertson tf
    // saturation through by 10·DL clears every fraction —
    //   tf_part = 22·tf·DL / (10·DL·tf + 3·DL + 9·dl·N)
    // — and idf stays the (2N−2df+1)/(2df+1) ratio, each scaled ×1e6
    // and floored (monotone in true BM25; no ln()/double drift). The
    // per-term postings join broadcasts (query terms ≪ corpus), doc
    // lengths ride the tf table, corpus constants ride a broadcast
    // staple — one explode shuffle total, the IR-engine shape.
    QueryDef("q215_bm25",
      (s, dir) => {
        val d = Tables.documents(s, dir).filter(col("doc_id") < 500)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val dl = d.select(col("doc_id"), size(col("toks")).cast("bigint").as("dl"))
        val tf = d.select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term").isin("spark", "stream", "join"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val consts = broadcast(dl.agg(count(lit(1)).as("n_docs"),
          sum("dl").as("total_dl")))
        tf.join(dl, "doc_id")
          .join(broadcast(dfreq), "term")
          .crossJoin(consts)
          .select(col("doc_id"), col("term"),
            (floor(lit(1000000L) * (lit(2) * col("n_docs") - lit(2) * col("df") + lit(1)) /
              (lit(2) * col("df") + lit(1))) *
              floor(lit(1000000L) * lit(22) * col("tf") * col("total_dl") /
                (lit(10) * col("total_dl") * col("tf") + lit(3) * col("total_dl") +
                  lit(9) * col("dl") * col("n_docs"))))
              .cast("bigint").as("term_score"))
          .groupBy("doc_id")
          .agg(sum("term_score").cast("bigint").as("score"),
            count(lit(1)).cast("bigint").as("n_terms"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(15)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
             |           FROM documents WHERE doc_id < 500),
             |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
             |         SELECT doc_id, unnest(toks) AS term FROM d)
             |       WHERE term IN ('spark', 'stream', 'join') GROUP BY 1, 2),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |consts AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl)
             |SELECT doc_id,
             |  CAST(SUM(
             |    FLOOR(1000000 * (2 * n_docs - 2 * df + 1) / (2 * df + 1)) *
             |    FLOOR(1000000 * 22 * tf * total_dl /
             |      (10 * total_dl * tf + 3 * total_dl + 9 * dl * n_docs))) AS BIGINT) AS score,
             |  CAST(COUNT(*) AS BIGINT) AS n_terms
             |FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN consts
             |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin)),

    // Weekly churn: of the users active in epoch-week w, how many
    // stayed active in w+1 (retained) vs vanished (churned)? The
    // consecutive-week comparison is a self-join of the distinct
    // (user, week) activity table on (user, week+1) — partial-agg
    // distinct then one user-keyed shuffle; no window state, so it
    // scales as two aggregates however long the history grows.
    QueryDef("q216_churn",
      (s, dir) => {
        val act = Tables.events(s, dir)
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 604800000000").as("wk"))
          .distinct()
        val nxt = act.select(col("user_id"), (col("wk") - 1).as("wk"),
          lit(1).as("retained"))
        act.join(nxt, Seq("user_id", "wk"), "left")
          .groupBy("wk")
          .agg(count(lit(1)).as("active"),
            sum(coalesce(col("retained"), lit(0))).cast("bigint").as("retained"),
            (count(lit(1)) - sum(coalesce(col("retained"), lit(0))))
              .cast("bigint").as("churned"))
          .orderBy("wk")
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
             |nxt AS (SELECT user_id, wk - 1 AS wk, 1 AS retained FROM act)
             |SELECT wk, COUNT(*) AS active,
             |  CAST(SUM(COALESCE(retained, 0)) AS BIGINT) AS retained,
             |  CAST(COUNT(*) - SUM(COALESCE(retained, 0)) AS BIGINT) AS churned
             |FROM act LEFT JOIN nxt USING (user_id, wk)
             |GROUP BY wk ORDER BY wk""".stripMargin)),

    // Referential-integrity audit across the star schema: orphan FK
    // rows per relation (lineitem→orders, lineitem→part,
    // lineitem→supplier, orders→customer, customer→nation) in ONE
    // union of anti-join counts. Each anti joins on the FK key —
    // dimension sides broadcast where small, and the audit runs
    // map-side against them; the fact scans prune to the key column.
    // The fixtures are FK-consistent by construction, so two
    // relations get deterministic orphans INJECTED (shifted copies of
    // low keys) — the audit must count exactly those and nothing
    // else; the other three prove clean at zero.
    QueryDef("q217_fk_audit",
      (s, dir) => {
        def orphans(rel: String, keys: org.apache.spark.sql.DataFrame,
                    dim: org.apache.spark.sql.DataFrame, pk: String) =
          keys.join(dim.select(col(pk).cast("bigint").as("k")), Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(rel).as("relation"), col("n_orphans"))
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val liOrd = li.select(col("l_orderkey").as("k"))
          .unionAll(li.filter(col("l_orderkey") < 50)
            .select((col("l_orderkey") + lit(900000000L)).as("k")))
        val ordCust = o.select(col("o_custkey").as("k"))
          .unionAll(o.filter(col("o_custkey") < 20)
            .select((col("o_custkey") + lit(900000000L)).as("k")))
        orphans("lineitem->orders", liOrd, o, "o_orderkey")
          .unionAll(orphans("lineitem->part",
            li.select(col("l_partkey").as("k")), Tables.part(s, dir), "p_partkey"))
          .unionAll(orphans("lineitem->supplier",
            li.select(col("l_suppkey").as("k")), Tables.supplier(s, dir), "s_suppkey"))
          .unionAll(orphans("orders->customer", ordCust, c, "c_custkey"))
          .unionAll(orphans("customer->nation",
            c.select(col("c_nationkey").cast("bigint").as("k")),
            Tables.nation(s, dir), "n_nationkey"))
          .orderBy("relation")
      },
      Some("""SELECT * FROM (
             |  SELECT 'lineitem->orders' AS relation, COUNT(*) AS n_orphans FROM (
             |    SELECT l_orderkey AS k FROM lineitem
             |    UNION ALL SELECT l_orderkey + 900000000 FROM lineitem WHERE l_orderkey < 50)
             |  WHERE k NOT IN (SELECT o_orderkey FROM orders)
             |  UNION ALL
             |  SELECT 'lineitem->part', COUNT(*) FROM lineitem
             |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
             |  UNION ALL
             |  SELECT 'lineitem->supplier', COUNT(*) FROM lineitem
             |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
             |  UNION ALL
             |  SELECT 'orders->customer', COUNT(*) FROM (
             |    SELECT o_custkey AS k FROM orders
             |    UNION ALL SELECT o_custkey + 900000000 FROM orders WHERE o_custkey < 20)
             |  WHERE k NOT IN (SELECT c_custkey FROM customer)
             |  UNION ALL
             |  SELECT 'customer->nation', COUNT(*) FROM customer
             |  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
             |ORDER BY relation""".stripMargin)),

    // Distribution drift between the first and last week of events:
    // χ²-style statistic over 10 equal-width value bins. Protocol:
    // bin shares first floor to ppm (p = 1e6·cnt div n — counts can
    // reach 2.5e8/bin at sf1000, so the raw (n_b·e − n_a·o)² cross
    // form would overflow BIGINT; ppm shares keep every product under
    // 1e12), then the per-bin term is floor((p_b − p_a)²/p_a) — the
    // χ²/PSI drift scale in exact integers. The monitoring shape: one
    // bin groupBy over two filtered weeks, 10-row broadcast staples,
    // no other shuffle.
    QueryDef("q218_drift_chi2",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("value"),
            expr("unix_micros(cast(ts as timestamp)) div 604800000000").as("wk"))
        val bounds = e.agg(min("wk").as("wk_a"), max("wk").as("wk_b"))
        val binned = e.crossJoin(broadcast(bounds))
          .filter(col("wk") === col("wk_a") || col("wk") === col("wk_b"))
          .select(when(col("wk") === col("wk_a"), "a").otherwise("b").as("side"),
            least(floor(col("value") / 50.0).cast("bigint"), lit(9L)).as("bin"))
        val counts = binned.groupBy("bin")
          .agg(sum(when(col("side") === "a", 1L).otherwise(0L)).as("e_cnt"),
            sum(when(col("side") === "b", 1L).otherwise(0L)).as("o_cnt"))
        val totals = broadcast(counts.agg(sum("e_cnt").as("n_a"), sum("o_cnt").as("n_b")))
        counts.crossJoin(totals)
          .select(col("bin"), col("e_cnt"), col("o_cnt"),
            expr("(1000000 * e_cnt) div n_a").as("p_a"),
            expr("(1000000 * o_cnt) div n_b").as("p_b"))
          .filter(col("p_a") > 0)
          .select(col("bin"), col("e_cnt"), col("o_cnt"),
            expr("((p_b - p_a) * (p_b - p_a)) div p_a").as("drift_ppm"))
          .orderBy("bin")
      },
      Some("""WITH e AS (SELECT value, epoch_us(ts) // 604800000000 AS wk FROM events),
             |bounds AS (SELECT MIN(wk) AS wk_a, MAX(wk) AS wk_b FROM e),
             |binned AS (
             |  SELECT CASE WHEN wk = wk_a THEN 'a' ELSE 'b' END AS side,
             |    LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin
             |  FROM e, bounds WHERE wk = wk_a OR wk = wk_b),
             |counts AS (
             |  SELECT bin,
             |    CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS e_cnt,
             |    CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS o_cnt
             |  FROM binned GROUP BY bin),
             |totals AS (SELECT CAST(SUM(e_cnt) AS BIGINT) AS n_a,
             |                  CAST(SUM(o_cnt) AS BIGINT) AS n_b FROM counts),
             |shares AS (
             |  SELECT bin, e_cnt, o_cnt,
             |    (1000000 * e_cnt) // n_a AS p_a, (1000000 * o_cnt) // n_b AS p_b
             |  FROM counts CROSS JOIN totals)
             |SELECT bin, e_cnt, o_cnt,
             |  ((p_b - p_a) * (p_b - p_a)) // p_a AS drift_ppm
             |FROM shares WHERE p_a > 0 ORDER BY bin""".stripMargin)),

    // Inverted index ON the lakehouse: posting lists (term, doc, tf)
    // persisted partitioned by a 16-way term-hash bucket, staged once
    // per corpus content (the q67 IVF discipline, applied to text).
    // Serving a term lookup computes the probe's bucket DRIVER-side
    // (baseHashJvm — no job) and reads only that partition directory:
    // the lookup cost is the bucket's fraction of the index however
    // large the corpus grows. PlanSpec asserts the file listing
    // touches exactly the probed buckets. Top-5 docs per term ranks
    // inside the pruned read (WindowGroupLimit).
    QueryDef("q219_inverted_index",
      (s, dir) => {
        import graft.operators.MinHashLSH
        val path = Fixtures.stagedDir(dir, "documents", "inv_index") { tmp =>
          Tables.documents(s, dir)
            .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
            .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
            .withColumn("bucket", pmod(MinHashLSH.baseHash(col("term")), lit(16)))
            .repartition(col("bucket"))
            .write.partitionBy("bucket").parquet(tmp)
        }
        val probes = Seq("spark", "join")
        val buckets = probes.map(t => MinHashLSH.baseHashJvm(t) % 16).distinct
        val w = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
        s.read.parquet(path)
          .filter(col("bucket").isin(buckets: _*) && col("term").isin(probes: _*))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(col("term"), col("doc_id"), col("tf"), col("rn"))
          .orderBy("term", "rn")
      },
      Some("""WITH tf AS (
             |  SELECT term, doc_id, COUNT(*) AS tf FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
             |  WHERE term IN ('spark', 'join') GROUP BY 1, 2)
             |SELECT term, doc_id, tf, CAST(rn AS INT) AS rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
             |  FROM tf) WHERE rn <= 5
             |ORDER BY term, rn""".stripMargin)),

    // Time-weighted average value per (user, day) — each reading
    // holds until the next one (step interpolation), so its weight is
    // its duration. Exact protocol: values are cents (×100 exact in
    // double — fixture values carry 2 decimals), durations are ms,
    // and the TWAP is floor(Σ cents·dur_ms / Σ dur_ms) — bounded
    // per-group products, order-independent integer sums, no float
    // accumulation. One user-partitioned window (the lead), one
    // grouped aggregate; top 20 user-days by TWAP.
    QueryDef("q220_twap",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("value"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .withColumn("next_us", lead("us", 1).over(w))
          .filter(col("next_us").isNotNull)
          .select(col("user_id"),
            expr("us div 86400000000").as("day"),
            round(col("value") * 100).cast("bigint").as("cents"),
            ((col("next_us") - col("us")) / lit(1000)).cast("bigint").as("dur_ms"))
          .filter(col("dur_ms") > 0)
        e.groupBy("user_id", "day")
          .agg(sum(col("cents") * col("dur_ms")).as("wsum"),
            sum(col("dur_ms")).as("tsum"),
            count(lit(1)).as("n_readings"))
          .select(col("user_id"), col("day"),
            expr("wsum div tsum").as("twap_cents"), col("n_readings"))
          .orderBy(col("twap_cents").desc, col("user_id"), col("day"))
          .limit(20)
      },
      Some("""WITH r AS (
             |  SELECT user_id, epoch_us(ts) AS us, value,
             |    LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
             |  FROM events),
             |seg AS (
             |  SELECT user_id, us // 86400000000 AS day,
             |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
             |    (next_us - us) // 1000 AS dur_ms
             |  FROM r WHERE next_us IS NOT NULL AND (next_us - us) // 1000 > 0)
             |SELECT user_id, day,
             |  CAST(SUM(cents * dur_ms) AS BIGINT) // CAST(SUM(dur_ms) AS BIGINT) AS twap_cents,
             |  COUNT(*) AS n_readings
             |FROM seg GROUP BY 1, 2
             |ORDER BY twap_cents DESC, user_id, day LIMIT 20""".stripMargin)),

    // Last-touch attribution: every purchase is credited to the most
    // recent preceding marketing touch (view or click) of the same
    // user within 7 days — the as-of join put to its canonical
    // product use. Revenue rolls up by touch channel (the touch's
    // event_type) in exact cents. Both sides shuffle once on user_id;
    // the per-purchase argmax is the rank-filter idiom, never a
    // cross product wider than (purchases × their own touches).
    QueryDef("q221_attribution",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            unix_micros(col("ts").cast("timestamp")).as("p_us"),
            round(col("value") * 100).cast("bigint").as("cents"))
        val touches = e.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_type").as("channel"),
            col("event_id").as("t_id"),
            unix_micros(col("ts").cast("timestamp")).as("t_us"))
        val w = Window.partitionBy("p_id")
          .orderBy(col("t_us").desc, col("t_id").desc)
        val credited = purchases.join(touches, "user_id")
          .filter(col("t_us") < col("p_us") &&
            col("t_us") >= col("p_us") - lit(7L * 86400000000L))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        credited.groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"),
            sum("cents").cast("bigint").as("revenue_cents"))
          .orderBy("channel")
      },
      Some("""WITH p AS (
             |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us,
             |    CAST(ROUND(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |t AS (
             |  SELECT user_id, event_type AS channel, event_id AS t_id, epoch_us(ts) AS t_us
             |  FROM events WHERE event_type IN ('view', 'click')),
             |credited AS (
             |  SELECT channel, cents FROM (
             |    SELECT t.channel, p.cents,
             |      ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY t.t_us DESC, t.t_id DESC) AS rn
             |    FROM p JOIN t USING (user_id)
             |    WHERE t.t_us < p.p_us AND t.t_us >= p.p_us - 604800000000)
             |  WHERE rn = 1)
             |SELECT channel, COUNT(*) AS n_purchases,
             |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
             |FROM credited GROUP BY channel ORDER BY channel""".stripMargin)),

    // Incremental inverted index: q219's posting lists as SNAPSHOT
    // COMMITS (the q203 incremental-IVF discipline applied to text) —
    // a base build plus a new-docs batch appended under the same
    // 16-way term-hash bucketing, files range-clustered by bucket so
    // INT64 manifest stats prune term lookups to the probed buckets
    // across base AND incremental commits. Index freshness without
    // rebuilds; serving merges postings from every commit (doc
    // batches are disjoint, so the union IS the full posting list).
    QueryDef("q222_inverted_incremental",
      (s, dir) => {
        import graft.operators.MinHashLSH
        import graft.ingest.{Snapshots, Topics}
        val root = Fixtures.stagedDir(dir, "documents", "invinc_v1") { tmp =>
          def postings(df: org.apache.spark.sql.DataFrame) = df
            .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
            .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
            .withColumn("bucket",
              pmod(MinHashLSH.baseHash(col("term")), lit(16)).cast("bigint"))
          val d = Tables.documents(s, dir)
          postings(d.filter(col("doc_id") < 400))
            .repartitionByRange(8, col("bucket"))
            .write.parquet(Topics.tableDir(tmp, "inv"))
          Snapshots.commit(tmp, "inv", maxPos = 0)
          postings(d.filter(col("doc_id") >= 400))
            .repartitionByRange(4, col("bucket"))
            .write.mode("append").parquet(Topics.tableDir(tmp, "inv"))
          Snapshots.commit(tmp, "inv", maxPos = 1)
        }
        val probes = Seq("spark", "join")
        val buckets = probes.map(t => MinHashLSH.baseHashJvm(t) % 16).distinct.sorted
        val idx = buckets.map(b => graft.ingest.Snapshots.readWhere(
            s, root, "inv", col("bucket") === b.toLong))
          .reduce(_.unionByName(_))
        val w = Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id"))
        idx.filter(col("term").isin(probes: _*))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select(col("term"), col("doc_id"), col("tf"), col("rn"))
          .orderBy("term", "rn")
      },
      // physical layout is invisible to the result: the oracle is the
      // straight posting-list top-5 over the whole corpus (q219's)
      Some("""WITH tf AS (
             |  SELECT term, doc_id, COUNT(*) AS tf FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
             |  WHERE term IN ('spark', 'join') GROUP BY 1, 2)
             |SELECT term, doc_id, tf, CAST(rn AS INT) AS rn FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
             |  FROM tf) WHERE rn <= 5
             |ORDER BY term, rn""".stripMargin)),

    // BPE merge APPLICATION — the step after q178's pair statistics:
    // the top-3 adjacent pairs (ranked on the base corpus, ties
    // lexicographic) are merged into single tokens by three
    // sequential left-to-right non-overlapping passes (the greedy
    // single-pass approximation real BPE scans use), via LITERAL
    // space-sentinel replace — no regex, so both engines share the
    // exact scan semantics, including the alternating-occurrence
    // behavior on runs like "a b a b". The 3-pair ranking is a
    // metadata-sized broadcast staple; application is map-side.
    QueryDef("q223_bpe_apply",
      (s, dir) => {
        val d = Tables.documents(s, dir).filter(col("doc_id") < 300)
          .select(col("doc_id"), col("text"))
        val bg = d.select(explode(expr(
            "transform(sequence(1, size(split(text, ' ')) - 1), " +
              "i -> struct(element_at(split(text, ' '), i) as w1, element_at(split(text, ' '), i + 1) as w2))"))
            .as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        val ranked = bg.withColumn("rn", row_number().over(
          Window.orderBy(col("c").desc, col("w1"), col("w2")))).filter(col("rn") <= 3)
        val top3 = broadcast(ranked.agg(
          max(when(col("rn") === 1, col("w1"))).as("a1"),
          max(when(col("rn") === 1, col("w2"))).as("b1"),
          max(when(col("rn") === 2, col("w1"))).as("a2"),
          max(when(col("rn") === 2, col("w2"))).as("b2"),
          max(when(col("rn") === 3, col("w1"))).as("a3"),
          max(when(col("rn") === 3, col("w2"))).as("b3")))
        def merge(t: Column, a: Column, b: Column): Column =
          replace(t, concat(lit(" "), a, lit(" "), b, lit(" ")),
            concat(lit(" "), a, lit("_"), b, lit(" ")))
        d.crossJoin(top3)
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("n_before"),
            merge(merge(merge(concat(lit(" "), col("text"), lit(" ")),
              col("a1"), col("b1")), col("a2"), col("b2")), col("a3"), col("b3"))
              .as("merged"))
          .select(col("doc_id"), col("n_before"),
            size(split(trim(col("merged")), " ")).as("n_after"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
             |bg AS (
             |  SELECT toks[i] AS w1, toks[i+1] AS w2, COUNT(*) AS c FROM (
             |    SELECT string_split(text, ' ') AS toks,
             |      unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
             |    FROM d)
             |  GROUP BY 1, 2),
             |ranked AS (SELECT w1, w2,
             |    ROW_NUMBER() OVER (ORDER BY c DESC, w1, w2) AS rn
             |  FROM bg QUALIFY rn <= 3),
             |top3 AS (SELECT
             |    MAX(CASE WHEN rn = 1 THEN w1 END) AS a1, MAX(CASE WHEN rn = 1 THEN w2 END) AS b1,
             |    MAX(CASE WHEN rn = 2 THEN w1 END) AS a2, MAX(CASE WHEN rn = 2 THEN w2 END) AS b2,
             |    MAX(CASE WHEN rn = 3 THEN w1 END) AS a3, MAX(CASE WHEN rn = 3 THEN w2 END) AS b3
             |  FROM ranked)
             |SELECT doc_id, len(string_split(text, ' ')) AS n_before,
             |  len(string_split(trim(
             |    replace(replace(replace(' ' || text || ' ',
             |      ' ' || a1 || ' ' || b1 || ' ', ' ' || a1 || '_' || b1 || ' '),
             |      ' ' || a2 || ' ' || b2 || ' ', ' ' || a2 || '_' || b2 || ' '),
             |      ' ' || a3 || ' ' || b3 || ' ', ' ' || a3 || '_' || b3 || ' ')), ' ')) AS n_after
             |FROM d CROSS JOIN top3 ORDER BY doc_id""".stripMargin)),

    // Event transition matrix (the Markov/Sankey view of user paths):
    // count every (previous type → type) step in per-user event-time
    // order, then per-source transition probability in ppm-floored
    // integer form. One user-partitioned window shuffle + one 25-row
    // aggregate; probabilities divide counts by the source row-total
    // via a broadcast staple, never a second scan.
    QueryDef("q226_session_paths",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val steps = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("src"), col("event_type").as("dst"))
          .agg(count(lit(1)).as("c"))
        val totals = steps.groupBy("src").agg(sum("c").as("src_total"))
        steps.join(broadcast(totals), "src")
          .select(col("src"), col("dst"), col("c"),
            expr("(1000000 * c) div src_total").as("p_ppm"))
          .orderBy("src", "dst")
      },
      Some("""WITH steps AS (
             |  SELECT prev AS src, event_type AS dst, COUNT(*) AS c FROM (
             |    SELECT event_type, LAG(event_type, 1) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |    FROM events)
             |  WHERE prev IS NOT NULL GROUP BY 1, 2),
             |totals AS (SELECT src, CAST(SUM(c) AS BIGINT) AS src_total
             |           FROM steps GROUP BY 1)
             |SELECT src, dst, c, (1000000 * c) // src_total AS p_ppm
             |FROM steps JOIN totals USING (src)
             |ORDER BY src, dst""".stripMargin)),

    // Lag-k autocovariance of the daily event-count series, k = 1..7
    // (the seasonality probe behind weekly-periodicity detection).
    // Counts are integers, so the whole statistic is EXACT BIGINT:
    // the output is the numerator n·Σxy − Σx·Σy per lag (the same
    // division-free form as q211's z-test — no float accumulation
    // anywhere). Day alignment is by VALUE (each day joins day+k via
    // an exploded key), not by row adjacency, so gap days don't
    // misalign lags.
    //
    // 100-TB shape: the series length is bounded by the time range,
    // not the data size — the daily aggregate partial-aggregates
    // map-side to ~365 rows/year, and everything after is metadata-
    // scale. BIGINT holds to ~sf1000 (n·Σxy ≈ 1e18 at 2.7M
    // events/day over a year).
    QueryDef("q229_autocovariance",
      (s, dir) => {
        val dayUs = 86400000000L
        val d = Tables.events(s, dir)
          .select(expr(s"unix_micros(cast(ts as timestamp)) div ${dayUs}L").as("day"))
          .groupBy("day").agg(count(lit(1)).as("x"))
        val probe = d.select(col("day"), col("x").as("xa"),
            explode(sequence(lit(1), lit(7))).as("lag"))
          .select((col("day") + col("lag")).as("day"), col("lag"), col("xa"))
        probe.join(d.withColumnRenamed("x", "xb"), "day")
          .groupBy("lag")
          .agg(count(lit(1)).as("n_pairs"),
            (count(lit(1)) * sum(col("xa") * col("xb")) -
              sum(col("xa")) * sum(col("xb"))).as("autocov_num"))
          .select(col("lag").cast("int").as("lag"), col("n_pairs"), col("autocov_num"))
          .orderBy("lag")
      },
      Some("""WITH d AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
             |  FROM events GROUP BY 1),
             |p AS (
             |  SELECT k.k AS lag, a.x AS xa, b.x AS xb
             |  FROM d a CROSS JOIN generate_series(1,7) k(k)
             |  JOIN d b ON b.day = a.day + k.k)
             |SELECT CAST(lag AS INT) AS lag, COUNT(*) AS n_pairs,
             |  CAST(COUNT(*) * SUM(xa * xb) - SUM(xa) * SUM(xb) AS BIGINT) AS autocov_num
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exponentially weighted moving average of daily event counts per
    // type, α = 1/4 over an 8-day horizon, in EXACT integer weights:
    // w_k = 3^k · 4^(7−k) (the α(1−α)^k geometric weights scaled by
    // 4^8, truncated at k=7 — >96% of the mass). Each day's count
    // contributes to the next 8 days' averages via an exploded
    // (day+k, w_k·x) key — weighting is by day VALUE, so gap days
    // decay contributions exactly instead of misaligning a row-lag
    // window. Emitted for (type, day) cells present in the series.
    //
    // 100-TB shape: identical to q229 — one map-side partial agg down
    // to days×types rows, then metadata-scale arithmetic.
    QueryDef("q230_ewma",
      (s, dir) => {
        val dayUs = 86400000000L
        val w = Seq(16384L, 12288L, 9216L, 6912L, 5184L, 3888L, 2916L, 2187L)
        val d = Tables.events(s, dir)
          .select(col("event_type"),
            expr(s"unix_micros(cast(ts as timestamp)) div ${dayUs}L").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
        val contrib = d
          .select(col("event_type"), col("day"), col("x"),
            posexplode(array(w.map(lit): _*)).as(Seq("k", "w")))
          .select(col("event_type"), (col("day") + col("k")).as("day"),
            (col("x") * col("w")).as("wx"))
          .groupBy("event_type", "day").agg(sum("wx").as("ewma_scaled"))
        contrib.join(d.select("event_type", "day"), Seq("event_type", "day"))
          .orderBy("event_type", "day")
      },
      Some("""WITH d AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
             |  FROM events GROUP BY 1, 2),
             |c AS (
             |  SELECT event_type, day + k.k AS day,
             |    x * ([16384, 12288, 9216, 6912, 5184, 3888, 2916, 2187][k.k + 1]) AS wx
             |  FROM d CROSS JOIN generate_series(0,7) k(k)),
             |e AS (
             |  SELECT event_type, day, CAST(SUM(wx) AS BIGINT) AS ewma_scaled
             |  FROM c GROUP BY 1, 2)
             |SELECT e.event_type, e.day, e.ewma_scaled
             |FROM e JOIN (SELECT event_type, day FROM d) t USING (event_type, day)
             |ORDER BY event_type, day""".stripMargin)),

    // Node similarity by the resource-allocation index — link
    // prediction's RA(u,w) = Σ_{z ∈ N(u)∩N(w)} 1/deg(z), which unlike
    // Adamic–Adar (1/ln deg) is EXACTLY rational: each wedge center z
    // contributes floor(1e6/deg(z)), summed as BIGINT (term-wise
    // floor, so accumulation order can't matter). Same deterministic
    // doc-id topology as q210 (content-derived graphs on the i.i.d.
    // word-salad fixtures are provably near-regular). Enumeration is
    // q183's wedge shape: self-join the adjacency on the center with
    // dst-ordered endpoints — each wedge once, cost Σ deg(z)², one
    // shuffle on z then one on (u,w), no node ever sees more than its
    // neighborhood.
    QueryDef("q233_node_similarity",
      (s, dir) => {
        val ids = Tables.documents(s, dir)
          .filter(col("doc_id") >= 1).select(col("doc_id").as("i"))
        val ed = ids.select(col("i").as("u"), expr("i div 2").as("v"))
          .unionAll(ids.filter(col("i") >= 10)
            .select(col("i").as("u"), expr("i div 10").as("v")))
          .filter(col("u") =!= col("v")).distinct()
        val e0 = ed.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(ed.select(col("v").as("src"), col("u").as("dst")))
        val deg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
        val nd = e0.join(deg, "src")
          .select(col("src").as("z"), col("dst").as("u"), col("deg"))
        nd.join(e0.select(col("src").as("z"), col("dst").as("w")), "z")
          .filter(col("u") < col("w"))
          .groupBy("u", "w")
          .agg(count(lit(1)).as("common"),
            sum(expr("1000000L div deg")).as("ra_scaled"))
          .orderBy(col("ra_scaled").desc, col("u"), col("w")).limit(10)
      },
      Some("""WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id >= 1),
             |ed AS (SELECT DISTINCT u, v FROM (
             |         SELECT i AS u, i // 2 AS v FROM ids
             |         UNION ALL SELECT i, i // 10 FROM ids WHERE i >= 10)
             |       WHERE u <> v),
             |e0 AS (SELECT u AS src, v AS dst FROM ed
             |       UNION ALL SELECT v, u FROM ed),
             |deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),
             |wd AS (SELECT a.dst AS u, b.dst AS w, a.src AS z
             |       FROM e0 a JOIN e0 b ON a.src = b.src AND a.dst < b.dst)
             |SELECT u, w, COUNT(*) AS common,
             |  CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_scaled
             |FROM wd JOIN deg d ON d.src = wd.z
             |GROUP BY 1, 2
             |ORDER BY ra_scaled DESC, u, w LIMIT 10""".stripMargin)),

    // Entity resolution (record linkage): a deterministically dirtied
    // catalog (one character deleted from each part name at a
    // key-derived position) is linked back to the clean catalog by
    // BLOCKING on the name's first character (the never-all-pairs
    // discipline; a production blocker would use phonetic keys) and
    // edit-distance matching within the block (levenshtein ≤ 2 —
    // cross-engine parity proven by q85). Each dirty record resolves
    // to its best match: min distance, ties to the lowest partkey.
    // Variants whose DELETED character was the blocking character
    // escape their block — that partial recall is checked output
    // (q212's honesty rule).
    QueryDef("q234_entity_resolution",
      (s, dir) => {
        val p = Tables.part(s, dir)
        val clean = p.filter(col("p_partkey") < 200)
          .select(col("p_partkey"), col("p_name"))
        val dirty = p.filter(col("p_partkey") < 60)
          .select((col("p_partkey") + 10000).as("dirty_id"),
            expr("""concat(
              substring(p_name, 1, cast(p_partkey % length(p_name) as int)),
              substring(p_name, cast(p_partkey % length(p_name) as int) + 2, length(p_name)))""")
              .as("dname"))
        val cand = dirty.withColumn("blk", substring(col("dname"), 1, 1))
          .join(clean.withColumn("blk", substring(col("p_name"), 1, 1)), "blk")
          .withColumn("dist", levenshtein(col("dname"), col("p_name")))
          .filter(col("dist") <= 2)
        cand.withColumn("rk", row_number().over(
            Window.partitionBy("dirty_id").orderBy(col("dist"), col("p_partkey"))))
          .filter(col("rk") === 1)
          .select(col("dirty_id"), col("dname"), col("p_partkey").as("matched_key"),
            col("p_name").as("matched_name"), col("dist"))
          .orderBy("dirty_id")
      },
      Some("""WITH clean AS (
             |  SELECT p_partkey, p_name FROM part WHERE p_partkey < 200),
             |dirty AS (
             |  SELECT p_partkey + 10000 AS dirty_id,
             |    substr(p_name, 1, CAST(p_partkey % len(p_name) AS INT))
             |      || substr(p_name, CAST(p_partkey % len(p_name) AS INT) + 2) AS dname
             |  FROM part WHERE p_partkey < 60),
             |cand AS (
             |  SELECT d.dirty_id, d.dname, c.p_partkey, c.p_name,
             |    levenshtein(d.dname, c.p_name) AS dist
             |  FROM dirty d JOIN clean c ON substr(d.dname, 1, 1) = substr(c.p_name, 1, 1)
             |  WHERE levenshtein(d.dname, c.p_name) <= 2),
             |rk AS (
             |  SELECT *, ROW_NUMBER() OVER
             |    (PARTITION BY dirty_id ORDER BY dist, p_partkey) AS rk
             |  FROM cand)
             |SELECT dirty_id, dname, p_partkey AS matched_key,
             |  p_name AS matched_name, CAST(dist AS INT) AS dist
             |FROM rk WHERE rk = 1 ORDER BY dirty_id""".stripMargin)),

    // Consistent cross-table holdout: the experiment/eval split done
    // RIGHT — the sampling decision hashes the ENTITY key (customer
    // id), so the same 10% of customers falls out of customer, orders
    // AND events in one deterministic stroke, with no sampling state
    // shared between tables (each scan recomputes the hash — at
    // 100 TB there is no "holdout list" to broadcast or join unless
    // you want the plan to, and membership never drifts between
    // pipeline runs). n_inconsistent PROVES the consistency: events
    // users are a subset of the customer key space, so the
    // events-side holdout minus the customer-side holdout must be
    // empty.
    QueryDef("q235_consistent_holdout",
      (s, dir) => {
        def inHoldout(c: Column): Column =
          pmod(MinHashLSH.baseHash(concat(lit("holdout:"), c.cast("string"))),
            lit(100)) < 10
        val cust = Tables.customer(s, dir).filter(inHoldout(col("c_custkey")))
        val ord = Tables.orders(s, dir).filter(inHoldout(col("o_custkey")))
        val ev = Tables.events(s, dir).filter(inHoldout(col("user_id")))
        val inconsistent = ev.select(col("user_id")).distinct()
          .join(cust.select(col("c_custkey").as("user_id")), Seq("user_id"),
            "left_anti")
        val one = cust.agg(count(lit(1)).as("n_cust")).crossJoin(
          ord.agg(count(lit(1)).as("n_orders"),
            sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
              .as("revenue_cents"))).crossJoin(
          ev.agg(count(lit(1)).as("n_events"))).crossJoin(
          inconsistent.agg(count(lit(1)).as("n_inconsistent")))
        one.select(col("n_cust"), col("n_orders"), col("revenue_cents"),
          col("n_events"), col("n_inconsistent"))
      },
      Some("""WITH c AS (SELECT * FROM customer
             |  WHERE CAST(('0x' || substr(md5('holdout:' || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10),
             |o AS (SELECT * FROM orders
             |  WHERE CAST(('0x' || substr(md5('holdout:' || CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10),
             |e AS (SELECT * FROM events
             |  WHERE CAST(('0x' || substr(md5('holdout:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10),
             |bad AS (SELECT DISTINCT user_id FROM e
             |        WHERE user_id NOT IN (SELECT c_custkey FROM c))
             |SELECT (SELECT COUNT(*) FROM c) AS n_cust,
             |  (SELECT COUNT(*) FROM o) AS n_orders,
             |  (SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) FROM o) AS revenue_cents,
             |  (SELECT COUNT(*) FROM e) AS n_events,
             |  (SELECT COUNT(*) FROM bad) AS n_inconsistent""".stripMargin)),

    // RFM segmentation: customers scored into quartiles on Recency
    // (days since last order), Frequency (order count) and Monetary
    // (revenue cents), segment = the three digits concatenated — the
    // standard CRM cut. ntile is deterministic under a TOTAL order
    // (metric, then custkey), identical in both engines. Output is
    // the bounded 4³ segment summary, never the per-customer list.
    QueryDef("q236_rfm_segments",
      (s, dir) => {
        val dayUs = 86400000000L
        val rfm = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(max(expr(s"unix_micros(cast(o_orderdate as timestamp)) div ${dayUs}L"))
            .as("last_day"),
            count(lit(1)).as("freq"),
            sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("cents"))
        val scored = rfm
          .withColumn("r", ntile(4).over(
            Window.orderBy(col("last_day").desc, col("o_custkey"))))
          .withColumn("f", ntile(4).over(
            Window.orderBy(col("freq").desc, col("o_custkey"))))
          .withColumn("m", ntile(4).over(
            Window.orderBy(col("cents").desc, col("o_custkey"))))
        scored.groupBy(concat(col("r").cast("string"), col("f").cast("string"),
            col("m").cast("string")).as("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum("cents").as("segment_cents"))
          .orderBy("segment")
      },
      Some("""WITH rfm AS (
             |  SELECT o_custkey,
             |    MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
             |    COUNT(*) AS freq,
             |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |scored AS (
             |  SELECT cents,
             |    NTILE(4) OVER (ORDER BY last_day DESC, o_custkey) AS r,
             |    NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
             |    NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS m
             |  FROM rfm)
             |SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment,
             |  COUNT(*) AS n_customers, CAST(SUM(cents) AS BIGINT) AS segment_cents
             |FROM scored GROUP BY 1 ORDER BY segment""".stripMargin)),

    // Market-basket association rules: part pairs co-purchased within
    // an order, ranked by support with confidence and lift in ppm
    // (integer-exact rational form — q209's discipline). The pair
    // enumeration self-joins the DISTINCT (order, part) relation on
    // the order key with ordered endpoints: cost Σ basket² with
    // baskets bounded by order size (≤13 here), the same
    // bounded-blocking shape as every dedup in this repo — never
    // all-pairs across the catalog. Item counts broadcast back onto
    // the pair counts (catalog ≪ fact table).
    QueryDef("q237_market_basket",
      (s, dir) => {
        // the basket total rides as a broadcast 1-row cross join
        // instead of a separate driver count job re-scanning the fact
        // table; the repartition(ok) lands the self-join's required
        // partitioning right after the distinct (measured −14% on top
        // of the count-job removal; a localCheckpoint of the distinct
        // relation measured slower than recomputing it)
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
          .repartition(col("ok"))
        val nDf = li.agg(countDistinct("ok").cast("long").as("n"))
        val item = li.groupBy("pk").agg(count(lit(1)).as("c1"))
        val pairs = li.join(li.withColumnRenamed("pk", "pk2"), "ok")
          .filter(col("pk") < col("pk2"))
          .groupBy("pk", "pk2").agg(count(lit(1)).as("c_ab"))
        pairs
          .join(broadcast(item.select(col("pk"), col("c1").as("c_a"))), "pk")
          .join(broadcast(item.select(col("pk").as("pk2"), col("c1").as("c_b"))), "pk2")
          .crossJoin(broadcast(nDf))
          .select(col("pk").as("a"), col("pk2").as("b"), col("c_ab"),
            expr("(1000000 * c_ab) div c_a").as("confidence_ppm"),
            expr("(1000000 * c_ab * n) div (c_a * c_b)").as("lift_ppm"))
          .orderBy(col("c_ab").desc, col("a"), col("b")).limit(10)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
             |n AS (SELECT COUNT(DISTINCT ok) AS n FROM li),
             |item AS (SELECT pk, COUNT(*) AS c1 FROM li GROUP BY 1),
             |pairs AS (
             |  SELECT a.pk AS a, b.pk AS b, COUNT(*) AS c_ab
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2)
             |SELECT a, b, c_ab,
             |  (1000000 * c_ab) // ia.c1 AS confidence_ppm,
             |  CAST((1000000 * c_ab * n.n) // (ia.c1 * ib.c1) AS BIGINT) AS lift_ppm
             |FROM pairs JOIN item ia ON ia.pk = a JOIN item ib ON ib.pk = b
             |CROSS JOIN n
             |ORDER BY c_ab DESC, a, b LIMIT 10""".stripMargin)),

    // Skyline (Pareto frontier): parts where no other part is both
    // cheaper-or-equal AND larger-or-equal (strict somewhere) — the
    // multi-criteria shortlist. NOT the naive all-pairs dominance
    // test: per-price-group max sizes, a running max over the price
    // order, and one join back — a row is dominated iff a strictly
    // cheaper group reaches its size, or its own group beats it.
    // O(n log n); the global window runs over the GROUPED (distinct
    // price) table, not the fact table, and prices are domain-bounded
    // cents so that table can't outgrow its domain. Duplicate
    // (price, size) points tie and both stay — standard skyline.
    // Prices compared in exact cents.
    QueryDef("q246_skyline",
      (s, dir) => {
        val p = Tables.part(s, dir)
          .select(col("p_partkey"),
            expr("cast(floor(p_retailprice * 100 + 0.5) as bigint)").as("cents"),
            col("p_size").cast("long").as("size"))
        val grp = p.groupBy("cents").agg(max("size").as("gmax"))
        val run = grp.withColumn("prev_max", max("gmax").over(
          Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)))
        p.join(run, "cents")
          .filter(!(coalesce(col("prev_max"), lit(Long.MinValue)) >= col("size") ||
            col("size") < col("gmax")))
          .select(col("p_partkey"), col("cents"), col("size"))
          .orderBy(col("cents"), col("size").desc, col("p_partkey"))
      },
      Some("""WITH p AS (
             |  SELECT p_partkey, CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
             |    CAST(p_size AS BIGINT) AS size FROM part),
             |g AS (SELECT cents, MAX(size) AS gmax FROM p GROUP BY 1),
             |r AS (SELECT cents, gmax, MAX(gmax) OVER (ORDER BY cents
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             |      FROM g)
             |SELECT p.p_partkey, p.cents, p.size
             |FROM p JOIN r USING (cents)
             |WHERE NOT (COALESCE(prev_max, -9223372036854775808) >= size OR size < gmax)
             |ORDER BY cents, size DESC, p_partkey""".stripMargin)),

    // k-core decomposition (k=2) on the q210 synthetic doc graph:
    // iterative peeling — drop every node with degree < 2, recompute,
    // repeat; the 2-core strips every hanging tree, leaving the
    // cyclic backbone (the 3-core of this topology is empty — the
    // /2 edges alone form a tree). Measured rounds-to-fixpoint is 2
    // at sf0.001 through sf1 (the /10 shortcuts bound hanging-chain
    // length), so the 8-round unroll carries 4x margin. Statically unrolled to KcoreRounds rounds so the DuckDB
    // oracle replays the identical computation; GraphSpec asserts the
    // peel has reached its fixpoint by then on the fixtures (each
    // round only removes nodes, so once stable it stays stable).
    // Scale: each round is one degree-count shuffle + two semi joins
    // all keyed on node id — the same hash partitioning reused; the
    // surviving edge set only shrinks, so round cost is bounded by
    // the first round. Round count is a structural constant of the
    // i->i/2, i->i/10 topology (doubles as doc count doubles ~ never:
    // peeling depth grows with graph *diameter*, which is log-shaped
    // here), not with row count — no 100x scale cliff.
    QueryDef("q250_kcore",
      (s, dir) => {
        // lineage cut per round (the DedupComponents pattern) — the
        // 8 unrolled rounds would otherwise compound into one
        // exponential plan (each round re-inlines the previous
        // round's groupBy + two semi joins).
        var edges = docGraph(s, dir).localCheckpoint(true)
        for (_ <- 1 to KcoreRounds) {
          val alive = edges.groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 2).select("src")
          edges = edges
            .join(alive, "src", "left_semi")
            .join(alive.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(true)
        }
        edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("id"), col("deg"))
          .orderBy(col("deg").desc, col("id"))
      },
      Some {
        // MATERIALIZED: each round references the previous one three
        // times; inlined CTEs would re-expand the base scan 3^rounds
        // times ("too many open files" in practice).
        val rounds = (1 to KcoreRounds).map { r =>
          s"""a$r AS MATERIALIZED (
             |  SELECT src FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= 2),
             |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
             |  JOIN a$r s ON e.src = s.src JOIN a$r d ON e.dst = d.src)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id >= 1),
           |ed AS (SELECT DISTINCT u, v FROM (
           |         SELECT i AS u, i // 2 AS v FROM ids
           |         UNION ALL SELECT i, i // 10 FROM ids WHERE i >= 10)
           |       WHERE u <> v),
           |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
           |       UNION ALL SELECT v, u FROM ed),
           |$rounds
           |SELECT src AS id, COUNT(*) AS deg FROM e$KcoreRounds
           |GROUP BY 1 ORDER BY deg DESC, id""".stripMargin
      }),

    // CUSUM changepoint scores per event_type: v = value in exact
    // micros, y = v - floor-mean, prefix sum P, and the classic
    // one-sided CUSUM S_i = max(0, S_{i-1} + y_i) computed in CLOSED
    // FORM as S_i = P_i - min(0, min_{j<=i} P_j) — a prefix sum plus
    // a running min, two window passes instead of an inexpressible
    // per-row recursion. Top-15 scores = the strongest upward
    // level-shift candidates. All integer micros; both engines replay
    // the identical floor-mean and window frames.
    // Scale: two shuffles — one agg on event_type (5 groups,
    // map-side partial) and one window partitioned by event_type.
    // The per-type window sort is the declared order semantics; at
    // 100 TB the partition-by keeps it distributed per type.
    QueryDef("q251_cusum_changepoint",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          col("event_id"), col("ts"),
          expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("v"))
        val st = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        val w = Window.partitionBy("event_type")
          .orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.join(st, "event_type")
          .withColumn("y", col("v") - expr("sv div n"))
          .withColumn("p", sum("y").over(w))
          .withColumn("s_plus",
            col("p") - least(lit(0L), min("p").over(w)))
          .select(col("event_type"), col("event_id"), col("s_plus"))
          .orderBy(col("s_plus").desc, col("event_type"), col("event_id"))
          .limit(15)
      },
      Some("""WITH ev AS (
             |  SELECT event_type, event_id, ts,
             |    CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS v
             |  FROM events),
             |st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv
             |       FROM ev GROUP BY 1),
             |pf AS (
             |  SELECT event_type, event_id, ts,
             |    SUM(v - sv // n) OVER (PARTITION BY event_type
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
             |  FROM ev JOIN st USING (event_type)),
             |cs AS (
             |  SELECT event_type, event_id, p,
             |    MIN(p) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
             |  FROM pf)
             |SELECT event_type, event_id,
             |  CAST(p - LEAST(0, runmin) AS BIGINT) AS s_plus
             |FROM cs ORDER BY s_plus DESC, event_type, event_id LIMIT 15""".stripMargin)),

    // Degree assortativity over the doc graph as EXACT sufficient
    // statistics (the q228-covariance pattern): for every directed
    // edge, x = deg(src), y = deg(dst); emit m, Σx, Σy, Σxy, Σx²,
    // Σy² — the RAW statistics only. The combined Pearson terms
    // (m·Σxy − Σx·Σy etc.) are deliberately NOT emitted: at 100 TB
    // they overflow int64 where the raw sums don't, and Spark wraps
    // silently while DuckDB raises — the consumer combines (in its
    // own wide arithmetic) from sums both engines agree on bit-for-
    // bit. Scale: degree table is one shuffle; the two joins back
    // onto edges are broadcasts at any SF where the node-id domain
    // ≪ edge count (deg table ~ distinct nodes), here left as hash
    // joins keyed on the edge endpoints.
    QueryDef("q252_assortativity",
      (s, dir) => {
        val edges = docGraph(s, dir)
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        edges
          .join(deg.select(col("src"), col("deg").as("x")), "src")
          .join(deg.select(col("src").as("dst"), col("deg").as("y")), "dst")
          .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
      },
      Some("""WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id >= 1),
             |ed AS (SELECT DISTINCT u, v FROM (
             |         SELECT i AS u, i // 2 AS v FROM ids
             |         UNION ALL SELECT i, i // 10 FROM ids WHERE i >= 10)
             |       WHERE u <> v),
             |e0 AS (SELECT u AS src, v AS dst FROM ed
             |       UNION ALL SELECT v, u FROM ed),
             |deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),
             |j AS (SELECT dx.deg AS x, dy.deg AS y
             |      FROM e0 JOIN deg dx ON e0.src = dx.src
             |              JOIN deg dy ON e0.dst = dy.src)
             |SELECT COUNT(*) AS m, CAST(SUM(x) AS BIGINT) AS sx,
             |  CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
             |  CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
             |FROM j""".stripMargin)),

    // Landmark BFS distances (the distance-sketch primitive behind
    // graph features / routing shortcuts): exact hop counts from
    // landmarks {1,2,3} on the doc graph, 4 statically-unrolled
    // frontier-relaxation rounds — dist_r(v) = min(dist_{r-1}(v),
    // 1 + min over in-edges dist_{r-1}(u)) — so nodes within 4 hops
    // get exact distances and the rest stay unreported (the sketch
    // contract). Output is the per-landmark distance histogram:
    // scale-stable (≤ 5 rows per landmark). Lineage cut per round;
    // each round = one join + one min-agg keyed on node id, the same
    // partitioning every round. Round count is the sketch RADIUS
    // (declared), not a convergence bound — no scale cliff.
    QueryDef("q258_landmark_bfs",
      (s, dir) => {
        val edges = docGraph(s, dir).localCheckpoint(true)
        var d = Seq(1L, 2L, 3L).map(l =>
            edges.sparkSession.range(1).select(lit(l).as("node"), lit(l).as("lm"),
              lit(0L).as("dist")))
          .reduce(_ unionAll _).localCheckpoint(true)
        for (_ <- 1 to 4) {
          d = edges.join(d, edges("src") === d("node"))
            .select(col("dst").as("node"), col("lm"), (col("dist") + 1).as("dist"))
            .unionAll(d)
            .groupBy("node", "lm").agg(min("dist").as("dist"))
            .localCheckpoint(true)
        }
        d.groupBy("lm", "dist").agg(count(lit(1)).as("n_nodes"))
          .orderBy("lm", "dist")
      },
      Some {
        val rounds = (1 to 4).map { r =>
          s"""d$r AS MATERIALIZED (
             |  SELECT node, lm, MIN(dist) AS dist FROM (
             |    SELECT e.dst AS node, d.lm, d.dist + 1 AS dist
             |    FROM e0 e JOIN d${r - 1} d ON e.src = d.node
             |    UNION ALL SELECT node, lm, dist FROM d${r - 1})
             |  GROUP BY 1, 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id >= 1),
           |ed AS (SELECT DISTINCT u, v FROM (
           |         SELECT i AS u, i // 2 AS v FROM ids
           |         UNION ALL SELECT i, i // 10 FROM ids WHERE i >= 10)
           |       WHERE u <> v),
           |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
           |       UNION ALL SELECT v, u FROM ed),
           |d0 AS MATERIALIZED (
           |  SELECT lm AS node, lm, CAST(0 AS BIGINT) AS dist
           |  FROM (VALUES (CAST(1 AS BIGINT)), (2), (3)) t(lm)),
           |$rounds
           |SELECT lm, dist, COUNT(*) AS n_nodes FROM d4
           |GROUP BY 1, 2 ORDER BY lm, dist""".stripMargin
      }),

    // RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    // are maximal stopword-free token runs; each word scores
    // deg(w)/freq(w) where deg sums the lengths of every phrase the
    // word appears in; a phrase scores the sum of its words' scores.
    // Standard max-phrase-length cap of 4 words (longer runs are
    // discarded, as in reference RAKE implementations — without the
    // cap a stopword-free doc degenerates into one giant top phrase).
    // All scoring in integer ppm (the PMI/no-ln discipline). Top-10
    // distinct phrases. Scale: tokenize once; phrase assembly is one
    // (doc, phrase) shuffle; word stats are vocabulary-bounded (Zipf)
    // and broadcast back; the per-doc window orders by position
    // within a doc — partitioned, never global.
    QueryDef("q263_rake_keyphrases",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .withColumn("is_stop", col("w").isin("a", "the").cast("int"))
          .withColumn("pid", sum("is_stop").over(
            Window.partitionBy("doc_id").orderBy("pos")))
          .filter(col("is_stop") === 0 && length(col("w")) > 0)
        val phr = toks.groupBy("doc_id", "pid").agg(
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            st => st.getField("w")), " ").as("phrase"),
          count(lit(1)).as("plen"))
          .filter(col("plen") <= 4)
        val wstat = toks.join(phr, Seq("doc_id", "pid"))
          .groupBy("w").agg(sum("plen").as("deg"), count(lit(1)).as("freq"))
          .select(col("w"), expr("(1000000 * deg) div freq").as("ws_ppm"))
        val scored = toks.join(broadcast(wstat), "w")
          .groupBy("doc_id", "pid").agg(sum("ws_ppm").as("score_ppm"))
          .join(phr, Seq("doc_id", "pid"))
        scored.groupBy("phrase")
          .agg(count(lit(1)).as("n_occ"), max("score_ppm").as("score_ppm"))
          .orderBy(col("score_ppm").desc, col("phrase"))
          .limit(10)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tk AS (
             |  SELECT doc_id, i AS pos, toks[i] AS w,
             |    CASE WHEN toks[i] IN ('a', 'the') THEN 1 ELSE 0 END AS is_stop
             |  FROM (SELECT doc_id, toks,
             |          unnest(generate_series(1, len(toks))) AS i FROM d)),
             |pidd AS (
             |  SELECT doc_id, pos, w, is_stop,
             |    SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
             |  FROM tk),
             |ip AS (SELECT * FROM pidd WHERE is_stop = 0 AND len(w) > 0),
             |phr AS (
             |  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase,
             |    COUNT(*) AS plen
             |  FROM ip GROUP BY 1, 2 HAVING COUNT(*) <= 4),
             |ws AS (
             |  SELECT w, (1000000 * CAST(SUM(plen) AS BIGINT)) // COUNT(*) AS ws_ppm
             |  FROM ip JOIN phr USING (doc_id, pid) GROUP BY 1),
             |sc AS (
             |  SELECT doc_id, pid, CAST(SUM(ws_ppm) AS BIGINT) AS score_ppm
             |  FROM ip JOIN ws USING (w) GROUP BY 1, 2)
             |SELECT phrase, COUNT(*) AS n_occ, MAX(score_ppm) AS score_ppm
             |FROM sc JOIN phr USING (doc_id, pid)
             |GROUP BY 1 ORDER BY score_ppm DESC, phrase LIMIT 10""".stripMargin)),

    // LOCF resampling (last-observation-carried-forward): each
    // sampled user's daily value series densified to a complete
    // calendar between their first and last active day, gaps filled
    // with the most recent observation — the standard time-series
    // feature-prep step before any fixed-frequency model. The fill
    // is last_value(IGNORE NULLS) over an unbounded-preceding frame;
    // day micros stay exact integers. Scale: calendar explosion is
    // per-user-bounded (span days), the window partitions by user —
    // the 1-in-97 sample bounds OUTPUT, the technique is whole-table.
    QueryDef("q269_locf_resample",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .filter(col("user_id") % 97 === 0)
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
            expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("v"))
          .groupBy("user_id", "day").agg(sum("v").as("dv"))
        val span = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
        val cal = span.select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
        val filled = cal.join(daily, Seq("user_id", "day"), "left")
          .withColumn("filled_v", last("dv", ignoreNulls = true).over(
            Window.partitionBy("user_id").orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        filled.groupBy("user_id").agg(
            count(lit(1)).as("n_days"),
            sum(col("dv").isNotNull.cast("long")).as("n_observed"),
            sum("filled_v").as("sum_filled_u"))
          .orderBy("user_id")
      },
      Some("""WITH daily AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             |    CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dv
             |  FROM events WHERE user_id % 97 = 0 GROUP BY 1, 2),
             |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
             |         FROM daily GROUP BY 1),
             |cal AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span),
             |f AS (
             |  SELECT cal.user_id, cal.day, daily.dv,
             |    LAST_VALUE(daily.dv IGNORE NULLS) OVER (
             |      PARTITION BY cal.user_id ORDER BY cal.day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v
             |  FROM cal LEFT JOIN daily USING (user_id, day))
             |SELECT user_id, COUNT(*) AS n_days,
             |  CAST(SUM(CASE WHEN dv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_observed,
             |  CAST(SUM(filled_v) AS BIGINT) AS sum_filled_u
             |FROM f GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov drift statistic between the
    // 'view' and 'purchase' value distributions, EXACT: at every
    // distinct observed value, D's numerator is |c1·n2 − c2·n1|
    // (cumulative counts cross-multiplied — no division until the
    // final report), so the max is found in pure integers; the ppm
    // report divides by (n1·n2)/1e6 with floor semantics both
    // engines share. One window over the merged value order — the
    // declared order-statistic semantics. The ML-monitoring
    // complement of the χ² categorical drift (q218).
    QueryDef("q270_ks_drift",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("event_type").as("t"),
            expr("cast(floor(value * 1e6 + 0.5) as bigint)").as("v"))
        val counts = ev.groupBy("v").agg(
          sum((col("t") === "view").cast("long")).as("a"),
          sum((col("t") === "purchase").cast("long")).as("b"))
        val tot = ev.agg(
          sum((col("t") === "view").cast("long")).as("n1"),
          sum((col("t") === "purchase").cast("long")).as("n2"))
        val cum = counts.withColumn("c1", sum("a").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("c2", sum("b").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        cum.crossJoin(broadcast(tot))
          .select(abs(col("c1") * col("n2") - col("c2") * col("n1")).as("num"),
            col("n1"), col("n2"))
          .agg(max("num").as("ks_num"), max("n1").as("n1"), max("n2").as("n2"))
          .select(col("ks_num"), (col("n1") * col("n2")).as("ks_den"),
            // GREATEST(1,…): below 1e6 total pairs the ppm scale
            // degenerates — clamp instead of dividing by zero (tiny
            // fixtures), identically on both engines
            expr("ks_num div greatest(1L, (n1 * n2) div 1000000)").as("ks_ppm"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type AS t,
             |    CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS v
             |  FROM events WHERE event_type IN ('view', 'purchase')),
             |c AS (SELECT v,
             |        CAST(SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |        CAST(SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b
             |      FROM ev GROUP BY 1),
             |n AS (SELECT CAST(SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |        CAST(SUM(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2
             |      FROM ev),
             |cm AS (SELECT v,
             |         CAST(SUM(a) OVER (ORDER BY v
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
             |         CAST(SUM(b) OVER (ORDER BY v
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
             |       FROM c)
             |SELECT CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
             |  CAST(MAX(n1) * MAX(n2) AS BIGINT) AS ks_den,
             |  CAST(MAX(ABS(c1 * n2 - c2 * n1))
             |       // GREATEST(1, (MAX(n1) * MAX(n2)) // 1000000)
             |       AS BIGINT) AS ks_ppm
             |FROM cm, n""".stripMargin)),

    // Per-segment Gini coefficient of order value — the inequality /
    // concentration metric of revenue analytics: G = (2·Σ i·xᵢ −
    // (n+1)·Σxᵢ) / (n·Σxᵢ) over cents sorted ascending. Σ i·xᵢ can
    // pass int64 at sf≥10 (rank·cents ≤ 9e13 each), so it accumulates
    // through the msumWide two-word split (sum of high 44 bits ×2²⁰ +
    // sum of low 20 bits, recombined in double — both engines round
    // the FINAL value identically, the documented q192 protocol);
    // Σxᵢ stays an exact long. One rank window per segment (the
    // declared order semantics) after one broadcast-joined segment
    // lookup; 5 output rows at any SF.
    QueryDef("q271_gini",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"),
            expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"),
            col("o_orderkey"))
        val ranked = o.withColumn("i", row_number().over(
          Window.partitionBy("segment").orderBy("cents", "o_orderkey")).cast("long"))
        val p = ranked.withColumn("p", col("i") * col("cents"))
        p.groupBy("segment").agg(
            count(lit(1)).as("n"),
            sum("cents").as("t"),
            ((sum(expr("p div 1048576")).cast("double") * lit(1048576.0)) +
              sum(expr("p % 1048576")).cast("double")).as("s"))
          .select(col("segment"), col("n"), col("t").as("total_cents"),
            floor((lit(2.0) * col("s") - (col("n") + 1).cast("double") * col("t").cast("double"))
              / (col("n").cast("double") * col("t").cast("double")) * lit(1e6))
              .cast("long").as("gini_ppm"))
          .orderBy("segment")
      },
      Some("""WITH o AS (
             |  SELECT c_mktsegment AS segment,
             |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             |    o_orderkey
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |r AS (SELECT segment, cents,
             |        CAST(ROW_NUMBER() OVER (PARTITION BY segment
             |          ORDER BY cents, o_orderkey) AS BIGINT) AS i
             |      FROM o),
             |g AS (SELECT segment, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS t,
             |        CAST(SUM((i * cents) // 1048576) AS DOUBLE) * 1048576.0
             |          + CAST(SUM((i * cents) % 1048576) AS DOUBLE) AS s
             |      FROM r GROUP BY 1)
             |SELECT segment, n, t AS total_cents,
             |  CAST(FLOOR((2.0 * s - CAST(n + 1 AS DOUBLE) * CAST(t AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)) * 1e6) AS BIGINT) AS gini_ppm
             |FROM g ORDER BY segment""".stripMargin)),

    // Subsampling bootstrap (Politis–Romano half-samples) of the mean
    // order value, fully DETERMINISTIC: replicate b keeps the rows
    // whose Knuth multiplicative hash of (orderkey + b·1000003) has
    // its top bit clear (~n/2 each), so any engine, any partitioning,
    // any rerun produces the identical 32 replicate means — the
    // reproducibility a production uncertainty estimate needs.
    // Overflow-exact at ANY orderkey: the seed is reduced mod 2^31
    // BEFORE the Knuth multiply, so the int64 product stays below
    // 2^31·2654435761 < 2^63 — Spark would wrap silently and DuckDB
    // would raise out-of-range if the raw sum were multiplied once
    // orderkeys pass ~3.5e9.
    // Replicate means in exact floor-div cents; the CI report is the
    // 2nd/31st order statistic (≈ p05/p95 of 32). One pass ×32 via a
    // compact explode; the replicate agg partial-applies map-side.
    QueryDef("q274_bootstrap_ci",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_orderkey"),
          expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
        val means = o
          .select(col("o_orderkey"), col("cents"),
            explode(sequence(lit(0L), lit(31L))).as("b"))
          .filter(expr(
            "(((o_orderkey + b * 1000003L) % 2147483648L) * 2654435761L) % 4294967296L < 2147483648L"))
          .groupBy("b")
          .agg(expr("sum(cents) div count(1)").as("mean_cents"),
            count(lit(1)).as("n_rows"))
        val ranked = means.withColumn("rk", row_number().over(
          Window.orderBy("mean_cents", "b")))
        ranked.agg(
          count(lit(1)).as("n_reps"),
          min("mean_cents").as("min_cents"),
          max(when(col("rk") === 2, col("mean_cents"))).as("lo_cents"),
          max(when(col("rk") === 31, col("mean_cents"))).as("hi_cents"),
          max("mean_cents").as("max_cents"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey,
             |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |r AS (
             |  SELECT b.b, CAST(SUM(cents) AS BIGINT) // COUNT(*) AS mean_cents
             |  FROM o CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
             |  WHERE (((o_orderkey + b.b * 1000003) % 2147483648) * 2654435761) % 4294967296
             |        < 2147483648
             |  GROUP BY 1),
             |rk AS (SELECT mean_cents,
             |         ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rk
             |       FROM r)
             |SELECT COUNT(*) AS n_reps,
             |  MIN(mean_cents) AS min_cents,
             |  MAX(CASE WHEN rk = 2 THEN mean_cents END) AS lo_cents,
             |  MAX(CASE WHEN rk = 31 THEN mean_cents END) AS hi_cents,
             |  MAX(mean_cents) AS max_cents
             |FROM rk""".stripMargin)),

    // Exact weighted median: per returnflag, the lineitem price at
    // which cumulative QUANTITY first reaches half the group's total
    // quantity (lower weighted median — the robust central-tendency
    // statistic unit-weighted medians can't give you when rows carry
    // different mass). Pure integers: prices in cents, quantities as
    // exact longs.
    //
    // Two-level distributed prefix sum — NOT one cumulative window
    // over the raw rows: partitionBy(flag) has only |flags| = 3
    // partitions, so that window serializes the whole table through 3
    // tasks (measured 10 s at sf1; at 100 TB it is a non-starter).
    // Instead (1) a parallel groupBy folds quantities into $10 price
    // buckets (cardinality = price domain / 1000 — bounded by the
    // DOMAIN, not the data), (2) a window over those few thousand
    // bucket rows finds each flag's crossing bucket and the mass
    // before it, (3) the exact crossing is refined INSIDE the one
    // matching bucket (~1/10⁴ of the data) with the tiny window.
    // Within equal cents the crossing price is order-independent, so
    // bucketing changes nothing the output can see; the oracle stays
    // the naive full-order cumsum and must agree bit for bit.
    QueryDef("q275_weighted_median",
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select(
          col("l_returnflag").as("flag"),
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"),
          col("l_quantity").cast("long").as("q"))
        val tot = li.groupBy("flag").agg(sum("q").as("tq"))
        val buckets = li.groupBy(col("flag"), expr("cents div 1000").as("b"))
          .agg(sum("q").as("bq"))
          .withColumn("cum", sum("bq").over(
            Window.partitionBy("flag").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val crossing = buckets.join(broadcast(tot), "flag")
          .filter(col("cum") * 2 >= col("tq"))
          .groupBy("flag")
          .agg(min("b").as("cb"),
            min_by(col("cum") - col("bq"), col("b")).as("before"),
            max("tq").as("tq"))
        li.join(broadcast(crossing), "flag")
          .filter(expr("cents div 1000") === col("cb"))
          .withColumn("cq", sum("q").over(
            Window.partitionBy("flag").orderBy("cents")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter((col("before") + col("cq")) * 2 >= col("tq"))
          .groupBy("flag")
          .agg(min("cents").as("wmedian_cents"), max("tq").as("total_qty"))
          .orderBy("flag")
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS flag,
             |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             |    CAST(l_quantity AS BIGINT) AS q, l_orderkey, l_linenumber
             |  FROM lineitem),
             |tot AS (SELECT flag, CAST(SUM(q) AS BIGINT) AS tq FROM li GROUP BY 1),
             |cum AS (SELECT flag, cents,
             |          CAST(SUM(q) OVER (PARTITION BY flag
             |            ORDER BY cents, l_orderkey, l_linenumber
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cq
             |        FROM li)
             |SELECT flag, MIN(cents) AS wmedian_cents, MAX(tq) AS total_qty
             |FROM cum JOIN tot USING (flag)
             |WHERE cq * 2 >= tq
             |GROUP BY 1 ORDER BY flag""".stripMargin)),

    // Trending detection: event types whose hourly volume in the most
    // recent 24h window moved most against the preceding 24h —
    // the heavy-hitter CHANGE query of real-time monitoring. Exact
    // ratio in ppm with +1 smoothing (so empty baselines rank, never
    // divide by zero); windows anchored to the data's max timestamp
    // so the query is deterministic on any fixture. Two filtered
    // aggs over one scan (map-side partial), metadata-scale output.
    QueryDef("q276_trending",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("us"))
        val hi = ev.agg(max("us")).collect()(0).getLong(0)
        val day = 86400000000L
        val counts = ev
          .filter(col("us") > hi - 2 * day)
          .groupBy("event_type").agg(
            sum((col("us") > hi - day).cast("long")).as("recent"),
            sum((col("us") <= hi - day).cast("long")).as("baseline"))
        counts.select(col("event_type"), col("recent"), col("baseline"),
            expr("(1000000 * (recent + 1)) div (baseline + 1)").as("trend_ppm"))
          .orderBy(col("trend_ppm").desc, col("event_type"))
      },
      Some("""WITH m AS (SELECT MAX(epoch_us(ts)) AS hi FROM events),
             |c AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN epoch_us(ts) > hi - 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS recent,
             |    CAST(SUM(CASE WHEN epoch_us(ts) <= hi - 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS baseline
             |  FROM events, m
             |  WHERE epoch_us(ts) > hi - 2 * 86400000000
             |  GROUP BY 1)
             |SELECT event_type, recent, baseline,
             |  (1000000 * (recent + 1)) // (baseline + 1) AS trend_ppm
             |FROM c ORDER BY trend_ppm DESC, event_type""".stripMargin)),

    // Theil–Sen robust trend of the daily event volume: the exact
    // median of all pairwise slopes (dy/dx quantized to micros with
    // truncating division — identical on both engines), immune to
    // the outlier days an OLS slope chases. Pair count is bounded by
    // the DAY-domain squared (≈ 365² at any SF — the daily rollup is
    // the scale gate, partial-aggregated map-side); the median is the
    // lower order statistic over that bounded pair set. The robust
    // counterpart of q186's least-squares slope.
    QueryDef("q277_theil_sen",
      (s, dir) => {
        val d = Tables.events(s, dir)
          .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
          .groupBy("day").agg(count(lit(1)).as("y"))
        val a = d.select(col("day").as("d1"), col("y").as("y1"))
        val b = d.select(col("day").as("d2"), col("y").as("y2"))
        val slopes = a.join(b, col("d1") < col("d2"))
          .select(expr("((y2 - y1) * 1000000) div (d2 - d1)").as("slope_micro"))
        val n = slopes.count()
        slopes.withColumn("rk", row_number().over(Window.orderBy("slope_micro")))
          .filter(col("rk") === (n + 1) / 2)
          .select(col("slope_micro").as("theil_sen_micro"),
            lit(n).as("n_pairs"))
      },
      Some("""WITH d AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
             |  FROM events GROUP BY 1),
             |p AS (
             |  SELECT ((b.y - a.y) * 1000000) // (b.day - a.day) AS slope_micro
             |  FROM d a JOIN d b ON a.day < b.day),
             |n AS (SELECT COUNT(*) AS n FROM p),
             |r AS (SELECT slope_micro,
             |        ROW_NUMBER() OVER (ORDER BY slope_micro) AS rk
             |      FROM p)
             |SELECT slope_micro AS theil_sen_micro, n.n AS n_pairs
             |FROM r, n WHERE rk = (n.n + 1) // 2""".stripMargin)),

    // Label-noise detection (confident-learning-lite): for each
    // sampled embedding, the share of its 5 nearest neighbors that
    // DISAGREE with its label — rows whose neighborhood votes against
    // them are the mislabel candidates every training-data audit
    // hunts. Declared semantics (re-declared round 8): neighbors are
    // the top-5 by exact cosine WITHIN the probe's IVF cell (the
    // staged q227/q67/q255b artifact, shared on disk) — the SemDeDup
    // blocking discipline. The previous all-pairs form was
    // (corpus/8) × corpus with a data-proportional broadcast — the
    // last quadratic shape in the repo (173 s at sf1, broadcast OOM
    // long before 100 TB). Now: candidate pairs are (probes ∩ cell) ×
    // cell per cell, the probe side travels by SHUFFLE on the cell
    // key (no broadcast hint — nothing data-proportional is ever
    // collected to the driver), and AQE's skew split handles a hot
    // cell. The DuckDB twin replays the IVF assignment itself
    // (Fixtures.ivfAssignCtes), so the BLOCKING — not just the vote —
    // is oracle-checked. Output: per-label count of flagged probes
    // (disagreement ≥ 3 of 5) — metadata-scale. The probe panel is
    // BOUNDED (1-in-8 of the first 2^16 ids — ≤ 8192 probes at any
    // scale), so total work is panel × one-cell ≈ LINEAR in the
    // corpus, not quadratic/k; below 65536 vectors (every oracle SF)
    // the bound is inert and results are unchanged.
    QueryDef("q278_label_noise",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Fixtures.stagedIvf(s, dir)
        val e = s.read.parquet(path)
          .select(col("id").as("vec_id"), col("cell"), col("v"))
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
        val probes = e.filter(col("vec_id") % 8 === 0 && col("vec_id") < 65536L)
          .select(col("vec_id").as("pid"), col("cell").as("pcell"),
            col("label").as("plabel"), col("v").as("pv"))
        val nn = e.join(probes,
            col("cell") === col("pcell") && col("vec_id") =!= col("pid"))
          .select(col("pid"), col("plabel"), col("label"),
            graft.operators.AnnLsh.cosine(col("v"), col("pv")).as("sim"),
            col("vec_id"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("pid").orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("rk") <= 5)
        nn.groupBy("pid", "plabel")
          .agg(sum((col("label") =!= col("plabel")).cast("long")).as("disagree"))
          .groupBy(col("plabel").cast("int").as("label"))
          .agg(count(lit(1)).as("n_probes"),
            sum((col("disagree") >= 3).cast("long")).as("n_flagged"))
          .orderBy("label")
      },
      Some(s"""WITH ${Fixtures.ivfAssignCtes},
             |lab AS (SELECT a1.vec_id, a1.v, a1.cell, em.label
             |        FROM a1 JOIN embeddings em USING (vec_id)),
             |p AS (SELECT vec_id AS pid, cell AS pcell, label AS plabel, v AS pv
             |      FROM lab WHERE vec_id % 8 = 0 AND vec_id < 65536),
             |sc AS (
             |  SELECT p.pid, p.plabel, lab.label, lab.vec_id,
             |    list_dot_product(lab.v, p.pv)
             |      / sqrt(list_dot_product(lab.v, lab.v) * list_dot_product(p.pv, p.pv)) AS sim
             |  FROM lab JOIN p ON lab.cell = p.pcell AND lab.vec_id <> p.pid),
             |nn AS (SELECT * FROM (
             |         SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
             |           ORDER BY sim DESC, vec_id) AS rk FROM sc) WHERE rk <= 5),
             |d AS (SELECT pid, plabel,
             |        CAST(SUM(CASE WHEN label <> plabel THEN 1 ELSE 0 END) AS BIGINT) AS disagree
             |      FROM nn GROUP BY 1, 2)
             |SELECT CAST(plabel AS INT) AS label, COUNT(*) AS n_probes,
             |  CAST(SUM(CASE WHEN disagree >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
             |FROM d GROUP BY 1 ORDER BY label""".stripMargin))
  )
}
