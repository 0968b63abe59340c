package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryRegistry, Tables}
import graft.operators._
import Qf._

/** Training-data curation operators beyond the SURVEY core: MinHash-LSH
  * near-dedup, SimHash fingerprints, language-ID, quality scoring,
  * token/segment counting, rolling-hash fingerprint dedup, multimodal
  * feature plumbing, LSH-bucketed ANN. Each declared as a query over
  * the fixtures with a DuckDB oracle replaying the exact arithmetic
  * (fixed hash constants, no RNG) where expressible. */
object CurationQueries extends QueryRegistry {

  /** The MinHash-LSH replay CTE chain (docs → shingles → signatures →
    * band buckets → candidate pairs), shared by the q55 oracle and the
    * q100 components oracle. */
  /** The MinHash band/bucket/pair CTE chain over a caller-supplied
    * `docs AS (...)` body — q55/q100/q195 share the default injected
    * corpus; q204 swaps in a heavier duplication pattern. */
  private[queries] def mhCtesFor(docsSql: String): String = {
    val a = MinHashLSH.A.mkString("[", ",", "]")
    val b = MinHashLSH.B.mkString("[", ",", "]")
    s"""docs AS (
       |$docsSql
       |),
       |sh AS (
       |  SELECT id, list_distinct(list_transform(
       |    generate_series(1, len(string_split(text,' ')) - 2),
       |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
       |  FROM docs WHERE len(string_split(text,' ')) >= 3
       |),
       |sigs AS (
       |  SELECT id, list_transform(generate_series(0,15), i ->
       |    list_min(list_transform(sh, s ->
       |      ($a[i+1] * CAST(('0x' || substr(md5(s),1,8)) AS BIGINT) + $b[i+1]) % ${MinHashLSH.P}))) AS sig
       |  FROM sh WHERE len(sh) > 0
       |),
       |buckets AS (
       |  SELECT id, sig, j.j AS band,
       |    md5(array_to_string(list_transform(list_slice(sig, j.j*4+1, j.j*4+4), v -> CAST(v AS VARCHAR)), '-')) AS key
       |  FROM sigs, generate_series(0,3) j(j)
       |),
       |bsz AS (
       |  SELECT band, key FROM buckets GROUP BY band, key
       |  HAVING COUNT(*) <= ${MinHashLSH.DefaultMaxBucket}
       |),
       |pairs AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.sig AS sa, b.sig AS sb
       |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key AND a.id < b.id
       |  JOIN bsz s ON s.band = a.band AND s.key = a.key
       |)""".stripMargin
  }

  private[queries] val mhCtes: String = mhCtesFor(
    """  SELECT doc_id AS id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id < 10""".stripMargin)

  private[queries] val mhEst =
    "list_sum(list_transform(generate_series(1,16), i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) / CAST(16 AS DOUBLE)"

  private val mh =
    s"""WITH $mhCtes
       |SELECT a_id, b_id, $mhEst AS est_jaccard
       |FROM pairs ORDER BY a_id, b_id""".stripMargin

  /** DuckDB replay of AnnLsh's bucket assignment (deterministic
    * md5-derived hyperplanes — AnnLsh.planeComponent): per vector, 4
    * bucket strings "t:bitstring" from the signs of 6 projections each.
    * list_dot_product matches Spark's aggregate(zip_with(...)) fold
    * bit-for-bit (proven by q65). */
  private val annSigs =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pls AS (
       |  SELECT list(list_transform(generate_series(0,63), d ->
       |    CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)),1,4)) AS BIGINT)
       |      % 1000 / 1000.0 - 0.5) ORDER BY p) AS pl
       |  FROM generate_series(0,${AnnLsh.Tables * AnnLsh.BitsPerTable - 1}) t(p)
       |),
       |sigs AS (
       |  SELECT vec_id, v,
       |    list_transform(generate_series(0,${AnnLsh.Tables - 1}), t ->
       |      CAST(t AS VARCHAR) || ':' ||
       |      array_to_string(list_transform(generate_series(0,${AnnLsh.BitsPerTable - 1}), j ->
       |        CASE WHEN list_dot_product(v, pl[t*${AnnLsh.BitsPerTable}+j+1]) >= 0
       |             THEN '1' ELSE '0' END), '')) AS buckets
       |  FROM e CROSS JOIN pls
       |)""".stripMargin

  private val cosineSql =
    "list_dot_product(v, pv) / sqrt(list_dot_product(v, v) * list_dot_product(pv, pv))"

  /** Shared with q255b's oracle — lives in [[Fixtures]] now. */
  private def ivfD2(vec: String, cent: String): String = Fixtures.ivfD2(vec, cent)

  private val ivfAssignCtes: String = Fixtures.ivfAssignCtes

  /** DuckDB twin of TextAnalysis.langId (argmax char-n-gram profile
    * score via the replace occurrence-count trick, ties → alphabetical,
    * zero hits → 'und'); shared by q58 and q101. Expects a column `pt`
    * (the space-padded text, `' ' || text || ' '`) in scope — the
    * splicing query's CTE provides it. */
  private val langCaseSql: String = {
    val scores = TextAnalysis.LangProfiles.map { case (lang, grams) =>
      lang -> grams.map { g =>
        s"CAST((length(pt) - length(replace(pt, '$g', ''))) / ${g.length} AS INT)"
      }.mkString("(", " + ", ")")
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores.sortBy(_._1)
      .map { case (lang, e) => s"WHEN $best > 0 AND $e = $best THEN '$lang'" }
      .mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** Embedded natural-language sample sentences (one per profile
    * language), unioned with the synthetic corpus in q58: the corpus
    * text is domain vocabulary in every row regardless of its `lang`
    * label, so these rows are what exercises each profile's diagonal.
    * Plain ASCII for the Latin scripts; shared verbatim with the
    * oracle's VALUES list. */
  private val LangSamples: Seq[(String, String)] = Seq(
    ("en", "the quick brown fox jumps over the lazy dog and runs off to the hills"),
    ("en", "reading a good book in the evening is one of the joys of living"),
    ("es", "el perro corre por la calle y la nina juega en la casa de madera"),
    ("es", "lo que la vida nos ensena es que los suenos quedan en el corazon"),
    ("de", "der hund und die katze spielen in dem garten und die kinder lachen schon"),
    ("de", "die schule ist ein gebaeude und der lehrer schreibt ein buch ueber sprache"),
    ("fr", "le chien et le chat jouent dans le jardin de la maison et la fille chante"),
    ("fr", "les enfants vont a la plage et le soleil brille sur la mer toute la journee"),
    ("zh", "我们在学校学习中文因为中文是很有用的语言"),
    ("zh", "他说了他是中国人我们在北京见面了一起吃饭"))

  private val simhashSql =
    """list_transform(string_split(text,' '), t -> CAST(('0x' || substr(md5(t),1,15)) AS BIGINT))"""

  private def simhashExpr(hsExpr: String, nExpr: String): String =
    s"""CAST(list_sum(list_transform(generate_series(0,59), j ->
       |  CASE WHEN 2 * list_sum(list_transform($hsExpr, x ->
       |    CASE WHEN (x & CAST(pow(2,j) AS BIGINT)) != 0 THEN 1 ELSE 0 END)) > $nExpr
       |  THEN CAST(pow(2,j) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    QueryDef("q55_minhash_lsh",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val withDups = d.select(col("doc_id").as("id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 100000).as("id"), col("text")))
        MinHashLSH.candidatePairs(withDups, "id", "text")
          .orderBy("a_id", "b_id")
      },
      Some(mh)),

    // Self-tuning dedup cap (the round-6 sf10 lesson made executable):
    // instead of a fixed bucket-size cap, pick the LARGEST cap whose
    // admitted pair work Σ C(|bucket|,2) fits a pair budget — the
    // emitted-pair volume, dedup's true cost driver, stays bounded at
    // ANY duplication rate. The decision reads a bucket-size HISTOGRAM
    // (tens of rows at any corpus scale), and both the selection and
    // the capped pair enumeration are deterministic integer
    // arithmetic the oracle replays end to end.
    QueryDef("q204_adaptive_dedup_cap",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        // two duplication tiers: docs 0..9 gain 5 extra copies
        // (bucket size 6), docs 10..19 gain 11 (bucket size 12) — the
        // budget admits the first tier but not the second, so the
        // chosen cap lands BETWEEN the steps and the oversized tier's
        // buckets are dropped, exactly the 100x-duplication defense
        def copies(n: Int, lo: Int, hi: Int) =
          (1 to n).map(r => d.filter(col("doc_id") >= lo && col("doc_id") < hi)
            .select((col("doc_id") + lit(r * 100000L)).as("id"), col("text")))
            .reduce(_ unionAll _)
        val withDups = d.select(col("doc_id").as("id"), col("text"))
          .unionAll(copies(5, 0, 10))
          .unionAll(copies(11, 10, 20))
        val (cap, pairs) = MinHashLSH.candidatePairsBudgeted(
          withDups, "id", "text", pairBudget = 800L)
        pairs
          .agg(lit(cap.toLong).as("cap"),
            count(lit(1)).as("cand_pairs"),
            countDistinct(col("a_id")).as("distinct_a"))
      },
      Some(s"""WITH ${mhCtesFor(
                """  SELECT doc_id AS id, text FROM documents
                  |  UNION ALL SELECT doc_id + r.r*100000 AS id, text
                  |    FROM documents, generate_series(1,5) r(r) WHERE doc_id < 10
                  |  UNION ALL SELECT doc_id + r.r*100000 AS id, text
                  |    FROM documents, generate_series(1,11) r(r) WHERE doc_id >= 10 AND doc_id < 20""".stripMargin)},
              |bszall AS (SELECT band, key, COUNT(*) AS n
              |           FROM buckets GROUP BY band, key HAVING COUNT(*) >= 2),
              |work AS (SELECT c.c, COALESCE(SUM(CASE WHEN n <= c.c THEN (n*(n-1))//2 END), 0) AS pw
              |         FROM (VALUES (4),(8),(16),(32),(64),(128),(256)) c(c)
              |         LEFT JOIN bszall ON true GROUP BY c.c),
              |chosen AS (SELECT COALESCE(MAX(CASE WHEN pw <= 800 THEN c END), 4) AS cap FROM work),
              |kept AS (SELECT band, key FROM bszall, chosen WHERE n <= cap),
              |p2 AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
              |       FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key AND a.id < b.id
              |       JOIN kept k ON k.band = a.band AND k.key = a.key)
              |SELECT (SELECT CAST(cap AS BIGINT) FROM chosen) AS cap,
              |       COUNT(*) AS cand_pairs,
              |       COUNT(DISTINCT a_id) AS distinct_a
              |FROM p2""".stripMargin)),

    // Connected components over the MinHash candidate graph — pair
    // lists become transitive dedup clusters (the step survivorship
    // needs). The oracle replays it as a recursive transitive closure
    // over the same pair CTEs.
    QueryDef("q100_dedup_components",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val withDups = d.select(col("doc_id").as("id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 100000).as("id"), col("text")))
        // materialize the candidate pairs ONCE (r15): the components
        // loop references them twice (both edge orientations), which
        // would clone the whole MinHash subtree in the plan — double
        // catalyst planning cost and a double execution risk; the pair
        // list itself is metadata-small
        val pairs = MinHashLSH.candidatePairs(withDups, "id", "text")
          .filter(col("est_jaccard") >= 0.5)
          .select("a_id", "b_id").localCheckpoint(true)
        DedupComponents.components(pairs)
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE $mhCtes,
              |cand AS (SELECT a_id, b_id FROM pairs WHERE $mhEst >= 0.5),
              |edges AS (SELECT a_id, b_id FROM cand
              |          UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM cand),
              |nodes AS (SELECT DISTINCT a_id AS id FROM edges),
              |reach AS (
              |  SELECT id, id AS r FROM nodes
              |  UNION
              |  SELECT re.id, e.b_id AS r FROM reach re JOIN edges e ON e.a_id = re.r)
              |SELECT id, MIN(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // The same dedup graph resolved by alternating large-star /
    // small-star contraction (Kiveris et al., SoCC '14) instead of
    // min-label propagation: O(log n) rounds on ANY graph shape, the
    // path for adversarial long-chain graphs where propagation needs
    // diameter rounds. Identical oracle as q100 — both engines must
    // agree on every (id, comp) pair, which also pins the two Spark
    // implementations to each other through the shared hash check.
    QueryDef("q195_components_star",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val withDups = d.select(col("doc_id").as("id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 100000).as("id"), col("text")))
        // pairs materialized once — see q100 (same plan-cloning issue)
        val pairs = MinHashLSH.candidatePairs(withDups, "id", "text")
          .filter(col("est_jaccard") >= 0.5)
          .select("a_id", "b_id").localCheckpoint(true)
        DedupComponents.componentsStar(pairs)
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE $mhCtes,
              |cand AS (SELECT a_id, b_id FROM pairs WHERE $mhEst >= 0.5),
              |edges AS (SELECT a_id, b_id FROM cand
              |          UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM cand),
              |nodes AS (SELECT DISTINCT a_id AS id FROM edges),
              |reach AS (
              |  SELECT id, id AS r FROM nodes
              |  UNION
              |  SELECT re.id, e.b_id AS r FROM reach re JOIN edges e ON e.a_id = re.r)
              |SELECT id, MIN(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    QueryDef("q56_simhash",
      (s, dir) => Tables.documents(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), SimHash.simhash(split(col("text"), " ")).as("simhash"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${simhashExpr(simhashSql, "len(string_split(text,' '))")} AS simhash
              |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    QueryDef("q57_simhash_pairs",
      (s, dir) => {
        val fp = Tables.documents(s, dir).filter(col("doc_id") < 30)
          .select(col("doc_id"), SimHash.simhash(split(col("text"), " ")).as("simhash"))
        val a = fp.select(col("doc_id").as("a_id"), col("simhash").as("ha"))
        val b = fp.select(col("doc_id").as("b_id"), col("simhash").as("hb"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            SimHash.hamming(col("ha"), col("hb")).cast("int").as("hamming"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH fp AS (
              |  SELECT doc_id, ${simhashExpr(simhashSql, "len(string_split(text,' '))")} AS simhash
              |  FROM documents WHERE doc_id < 30)
              |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
              |ORDER BY a_id, b_id""".stripMargin)),

    // Language ID with real char-trigram profiles (Cavnar–Trenkle):
    // corpus rows (domain vocabulary — realistic noise for a langid
    // pass) plus embedded natural-language samples per language, so
    // every profile's diagonal is exercised. The (lang, predicted)
    // confusion matrix is the declared output; the oracle replays the
    // profile arithmetic over the identical union.
    QueryDef("q58_langid",
      (s, dir) => {
        import s.implicits._
        val corpus = Tables.documents(s, dir).select(col("lang"), col("text"))
        val samples = LangSamples.toDF("lang", "text")
        // two-projection langid: score chains materialize once in a
        // codegen'd Project; the argmax above sees only attribute refs
        val scoreCols = TextAnalysis.langScores(col("text"))
        val scoreRefs = scoreCols.map { case (l, _) => l -> col(s"_ls_$l") }
        corpus.unionByName(samples)
          .select(col("lang") +: scoreCols.map { case (l, c) => c.as(s"_ls_$l") }: _*)
          .select(col("lang"), TextAnalysis.argmaxLang(scoreRefs).as("predicted"))
          .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
          .orderBy("lang", "predicted")
      },
      Some(s"""WITH u AS (
              |  SELECT lang, text FROM documents
              |  UNION ALL SELECT * FROM (VALUES ${
                LangSamples.map { case (l, t) => s"('$l', '$t')" }.mkString(", ")
              }) v(lang, text)),
              |p AS (SELECT lang, ' ' || text || ' ' AS pt FROM u)
              |SELECT lang, $langCaseSql AS predicted, COUNT(*) AS cnt FROM p
              |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)),

    // End-to-end curation pipeline (the north-star composition): exact
    // dedup survivorship (min doc_id per identical text) → language ID
    // → quality gate → per-language corpus stats. One scan, one window,
    // one aggregate — operators compose without extra passes.
    QueryDef("q101_corpus_curation",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val stop = Seq("the", "a", "of", "and")
        // two-projection langid (see q58): scores codegen'd once below,
        // argmax over attribute refs above
        val scoreCols = TextAnalysis.langScores(col("text"))
        val scoreRefs = scoreCols.map { case (l, _) => l -> col(s"_ls_$l") }
        Tables.documents(s, dir)
          .select(Seq(col("doc_id"), col("text")) ++
            scoreCols.map { case (l, c) => c.as(s"_ls_$l") }: _*)
          .select(col("doc_id"), col("text"),
            TextAnalysis.argmaxLang(scoreRefs).as("predicted"),
            TextAnalysis.qualityScore(col("text"), stop).as("score"))
          .withColumn("keep_id", min("doc_id").over(Window.partitionBy("text")))
          .filter(col("doc_id") === col("keep_id") &&
            col("predicted") =!= "und" && col("score") > 1.0)
          .groupBy("predicted")
          .agg(count(lit(1)).as("cnt"), davg(col("score")).as("avg_score"))
          .orderBy("predicted")
      },
      Some(s"""WITH t AS (SELECT doc_id, text, ' ' || text || ' ' AS pt,
              |            string_split(text,' ') AS toks FROM documents),
              |m AS (
              |  SELECT doc_id, text, $langCaseSql AS predicted,
              |    CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END * 2
              |    + CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(['the','a','of','and'], x))) / CAST(len(toks) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END * 3
              |    - abs(CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END - CAST(5.0 AS DOUBLE)) / CAST(5.0 AS DOUBLE) AS score,
              |    MIN(doc_id) OVER (PARTITION BY text) AS keep_id
              |  FROM t)
              |SELECT predicted, COUNT(*) AS cnt, ${sqlDavg("score")} AS avg_score
              |FROM m
              |WHERE doc_id = keep_id AND predicted != 'und' AND score > 1.0
              |GROUP BY predicted ORDER BY predicted""".stripMargin)),

    QueryDef("q59_quality_score",
      (s, dir) => {
        val stop = Seq("the", "a", "of", "and")
        Tables.documents(s, dir)
          .filter(col("doc_id") < 300)
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tokens"),
            TextAnalysis.segmentCount(col("text")).cast("bigint").as("n_segments"),
            TextAnalysis.uniqueRatio(col("text")).as("uniq_ratio"),
            TextAnalysis.stopwordRatio(col("text"), stop).as("stop_ratio"),
            TextAnalysis.meanTokenLen(col("text")).as("mean_len"),
            TextAnalysis.qualityScore(col("text"), stop).as("score"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text,' ') AS toks, text FROM documents WHERE doc_id < 300),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_tokens,
             |    CAST(len(list_filter(string_split_regex(text,'[^a-z0-9]+'), x -> x != '')) + length(regexp_replace(text,'[a-z0-9 ]','','g')) AS BIGINT) AS n_segments,
             |    CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS uniq_ratio,
             |    CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(['the','a','of','and'], x))) / CAST(len(toks) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS stop_ratio,
             |    CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS mean_len
             |  FROM t)
             |SELECT doc_id, n_tokens, n_segments, uniq_ratio, stop_ratio, mean_len,
             |  uniq_ratio * 2 + stop_ratio * 3 - abs(mean_len - CAST(5.0 AS DOUBLE)) / CAST(5.0 AS DOUBLE) AS score
             |FROM m ORDER BY doc_id""".stripMargin)),

    QueryDef("q60_token_count",
      (s, dir) => Tables.documents(s, dir).agg(
        sum(TextAnalysis.tokenCount(col("text"))).cast("bigint").as("total_tokens"),
        sum(TextAnalysis.segmentCount(col("text"))).cast("bigint").as("total_segments"),
        count(lit(1)).as("docs")),
      Some("""SELECT
             |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
             |  CAST(SUM(len(list_filter(string_split_regex(text,'[^a-z0-9]+'), x -> x != '')) + length(regexp_replace(text,'[a-z0-9 ]','','g'))) AS BIGINT) AS total_segments,
             |  COUNT(*) AS docs
             |FROM documents""".stripMargin)),

    QueryDef("q61_fingerprint_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val withDups = d.select(col("text"))
          .unionAll(d.filter(col("doc_id") < 10).select(col("text")))
        withDups.select(TextAnalysis.fingerprint(col("text")).as("fp"))
          .groupBy("fp").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .orderBy("fp")
      },
      Some(s"""SELECT fp, COUNT(*) AS n FROM (
              |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
              |    list_transform(generate_series(1, length(text)), i -> CAST(ascii(text[i]) AS BIGINT))),
              |    (acc, x) -> (acc * 31 + x) % 4294967311) AS fp
              |  FROM (SELECT text FROM documents
              |        UNION ALL SELECT text FROM documents WHERE doc_id < 10))
              |GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin)),

    QueryDef("q62_multimodal_features",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .filter(col("doc_id") < 300 && length(col("text")) === octet_length(col("text")))
        Multimodal.extractFeatures(Multimodal.asMedia(docs, "doc_id", "text"))
          .select(col("media_id"), col("n_bytes"), col("digest"),
            col("features").getItem(0).as("f0"),
            col("features").getItem(1).as("f1"),
            col("features").getItem(2).as("f2"),
            col("features").getItem(3).as("f3"))
          .orderBy("media_id")
      },
      Some {
        def f(j: Int) =
          s"""CAST(CAST(list_sum(list_transform(generate_series(1, strlen(text)), i ->
             |  CASE WHEN (i-1) % 4 = $j THEN ascii(text[i]) ELSE 0 END)) AS DOUBLE) / strlen(text) AS FLOAT) AS f$j""".stripMargin
        s"""SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS digest,
           |${f(0)}, ${f(1)}, ${f(2)}, ${f(3)}
           |FROM documents WHERE doc_id < 300 AND length(text) = strlen(text)
           |ORDER BY media_id""".stripMargin
      }),

    // Salted two-phase distinct count through the gate: must equal
    // plain COUNT(DISTINCT) — the skew-mitigation path is a pure
    // rewrite (salt derived from the distinct value keeps partials
    // additive).
    QueryDef("q88_salted_distinct",
      (s, dir) => SkewTools.saltedDistinctCount(
          Tables.events(s, dir).select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("int").as("k")),
          key = "user_id", distinctCol = "k", salts = 8)
        .orderBy("user_id"),
      Some("""SELECT user_id, COUNT(DISTINCT CAST(json_extract_string(props,'$.k') AS INT)) AS n_distinct
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Multimodal resize + frame-sample plumbing (stubbed media ops
    // with real distributed execution, like q62).
    QueryDef("q83_multimodal_resize",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .filter(col("doc_id") < 300 && length(col("text")) === octet_length(col("text")))
        docs.select(
          col("doc_id").as("media_id"),
          length(Multimodal.resizeStride(col("text"), 4)).cast("bigint").as("resized_len"),
          md5(Multimodal.resizeStride(col("text"), 4)).as("resized_digest"),
          size(Multimodal.sampleFrames(col("text"), 16, 4)).cast("bigint").as("n_sampled_frames"),
          md5(concat_ws("|", Multimodal.sampleFrames(col("text"), 16, 4))).as("frames_digest"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(strlen(resized) AS BIGINT) AS resized_len,
             |  md5(resized) AS resized_digest,
             |  CAST(len(frames) AS BIGINT) AS n_sampled_frames,
             |  md5(array_to_string(frames, '|')) AS frames_digest
             |FROM (
             |  SELECT doc_id,
             |    array_to_string(list_transform(generate_series(1, strlen(text), 4), i -> text[i]), '') AS resized,
             |    list_transform(list_filter(generate_series(0, CAST(ceil(strlen(text) / 16.0) AS BIGINT) - 1), f -> f % 4 = 0),
             |                   f -> text[f*16+1 : f*16+16]) AS frames
             |  FROM documents WHERE doc_id < 300 AND length(text) = strlen(text))
             |ORDER BY media_id""".stripMargin)),

    // LSH-bucketed ANN, with the bucket arithmetic replayed in the
    // oracle (deterministic literal hyperplanes — no RNG anywhere).
    // AnnSpec separately asserts candidate cosines match brute force.
    QueryDef("q63_ann_lsh",
      (s, dir) => AnnLsh.probeTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        probeId = 0L, k = 10)
        .select(col("id"), col("sim")),
      Some(s"""WITH $annSigs,
              |probe AS (SELECT v AS pv, buckets AS pbuckets FROM sigs WHERE vec_id = 0)
              |SELECT vec_id AS id, $cosineSql AS sim
              |FROM sigs CROSS JOIN probe
              |WHERE vec_id != 0 AND len(list_intersect(buckets, pbuckets)) > 0
              |ORDER BY sim DESC, id LIMIT 10""".stripMargin)),

    // REAL image decode (JDK ImageIO — no external libs): media is
    // GENERATED deterministically per doc (grayscale PNG, pixel(x,y) =
    // (x*7+y*13+id)%256), decoded back on executors, and every decoded
    // fact — dimensions, pixel sum, 4×4 nearest-neighbor resample sum —
    // is integer arithmetic of the id that the oracle replays without
    // any codec (PNG is lossless: decode∘encode = id). This upgrades
    // the multimodal path from a stub to a real codec round-trip; the
    // decode UDF is the declared codec boundary (inherently JVM work,
    // one projection, no shuffle).
    QueryDef("q188_image_decode",
      (s, dir) => {
        val ids = Tables.documents(s, dir).filter(col("doc_id") < 64).select("doc_id")
        ids.select(col("doc_id"),
            Multimodal.decodePngUdf(Multimodal.makePngUdf(col("doc_id"))).as("d"))
          .select(col("doc_id"), col("d.width").as("width"), col("d.height").as("height"),
            col("d.sum_v").as("sum_v"), col("d.resample_sum").as("resample_sum"))
          .orderBy("doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
             |  FROM documents WHERE doc_id < 64),
             |xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM dims),
             |xy AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
             |px AS (
             |  SELECT doc_id, w, h, SUM((x*7 + y*13 + doc_id) % 256) AS sum_v
             |  FROM xy GROUP BY doc_id, w, h),
             |rs AS (
             |  SELECT doc_id,
             |    SUM((((i.i*w)//4)*7 + ((j.j*h)//4)*13 + doc_id) % 256) AS resample_sum
             |  FROM dims, generate_series(0,3) i(i), generate_series(0,3) j(j)
             |  GROUP BY doc_id)
             |SELECT p.doc_id, CAST(p.w AS INT) AS width, CAST(p.h AS INT) AS height,
             |  CAST(p.sum_v AS BIGINT) AS sum_v,
             |  CAST(r.resample_sum AS BIGINT) AS resample_sum
             |FROM px p JOIN rs r USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // REAL audio decode (JDK javax.sound — WAV/PCM): 16-bit mono PCM
    // generated per doc (s(t) = (t*37 + id*11) % 2001 − 1000), written
    // as a WAV container, decoded back, and summarized as exact
    // integers (Σ s² energy — deliberately NOT RMS, so no sqrt/libm
    // hazard; frame count; max amplitude; sample rate from the decoded
    // header). Same contract as q188: lossless codec round-trip whose
    // facts the oracle replays arithmetically.
    QueryDef("q189_audio_decode",
      (s, dir) => {
        val ids = Tables.documents(s, dir).filter(col("doc_id") < 64).select("doc_id")
        ids.select(col("doc_id"),
            Multimodal.decodeWavUdf(Multimodal.makeWavUdf(col("doc_id"))).as("d"))
          .select(col("doc_id"), col("d.sample_rate").as("sample_rate"),
            col("d.frames").as("frames"), col("d.energy").as("energy"),
            col("d.max_amp").as("max_amp"))
          .orderBy("doc_id")
      },
      Some("""WITH n AS (
             |  SELECT doc_id, 64 + doc_id % 64 AS n
             |  FROM documents WHERE doc_id < 64),
             |ts AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS t FROM n),
             |s AS (SELECT doc_id, ((t*37 + doc_id*11) % 2001) - 1000 AS s FROM ts)
             |SELECT doc_id, CAST(8000 AS INT) AS sample_rate, COUNT(*) AS frames,
             |  CAST(SUM(s*s) AS BIGINT) AS energy,
             |  CAST(MAX(ABS(s)) AS INT) AS max_amp
             |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // REAL video decode: a motion-PNG clip (the MJPEG container shape —
    // whole still frames concatenated; PNG frames keep the stream
    // lossless so the oracle can replay decoded pixels from seed
    // arithmetic, where JPEG's DCT could not). decodeClip PARSES the
    // container (chunk walk to each frame's IEND), samples every 2nd
    // frame, and decodes real pixels per kept frame via the JDK image
    // codec. Facts are exact integers: frame count, sampled count,
    // Σ pixel-sum and Σ width over sampled frames.
    QueryDef("q190_video_decode",
      (s, dir) => {
        val ids = Tables.documents(s, dir).filter(col("doc_id") < 48).select("doc_id")
        ids.select(col("doc_id"),
            Multimodal.decodeClipUdf(Multimodal.makeClipUdf(col("doc_id"))).as("d"))
          .select(col("doc_id"), col("d.n_frames").as("n_frames"),
            col("d.n_sampled").as("n_sampled"), col("d.sum_v").as("sum_v"),
            col("d.sum_w").as("sum_w"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, 4 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 48),
             |fr AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS f FROM d),
             |sf AS (SELECT doc_id, nf, f, doc_id + f AS seed,
             |         8 + (doc_id + f) % 9 AS w, 8 + (doc_id + f) % 7 AS h
             |       FROM fr WHERE f % 2 = 0),
             |xs AS (SELECT doc_id, f, seed, w, h, unnest(generate_series(0, w - 1)) AS x FROM sf),
             |xy AS (SELECT doc_id, f, seed, w, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
             |px AS (
             |  SELECT doc_id, SUM((x*7 + y*13 + seed) % 256) AS sum_v
             |  FROM xy GROUP BY doc_id),
             |ws AS (
             |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_sampled, SUM(w) AS sum_w
             |  FROM sf GROUP BY doc_id)
             |SELECT d.doc_id, CAST(d.nf AS INT) AS n_frames, ws.n_sampled,
             |  CAST(px.sum_v AS BIGINT) AS sum_v, CAST(ws.sum_w AS BIGINT) AS sum_w
             |FROM d JOIN px USING (doc_id) JOIN ws USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Triangle count + closure rate over the near-dup candidate graph:
    // how cohesive are the LSH clusters? (A high closure rate means
    // candidates form tight cliques — safe to collapse via connected
    // components; a low rate warns of chain-shaped false-positive
    // merges.) Edges are oriented a<b at generation, so each wedge
    // x<y<z is enumerated once and each triangle counted once — the
    // standard edge-ordered enumeration, two hash joins, no node ever
    // sees more than its neighborhood (at corpus scale: shuffle on the
    // wedge pivot, bounded by the LSH bucket cap).
    QueryDef("q183_triangle_count",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val withDups = d.select(col("doc_id").as("id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 100000).as("id"), col("text")))
        // the edge list feeds THREE plan branches (ab/bc wedge sides +
        // the closing semi join) — materialize the LSH pipeline once;
        // edges are bucket-cap-bounded, metadata-scale next to the corpus
        val e = MinHashLSH.candidatePairs(withDups, "id", "text")
          .select(col("a_id").as("x"), col("b_id").as("y"))
          .localCheckpoint(false)
        val wedges = e.as("ab").join(e.as("bc"), col("ab.y") === col("bc.x"))
          .select(col("ab.x").as("x"), col("ab.y").as("y"), col("bc.y").as("z"))
        val closed = wedges.as("w").join(e.as("ac"),
          col("w.x") === col("ac.x") && col("w.z") === col("ac.y"), "left_semi")
        wedges.agg(count(lit(1)).as("wedges")).crossJoin(
          closed.agg(count(lit(1)).as("triangles")))
          .select(col("wedges"), col("triangles"),
            (col("triangles") / col("wedges").cast("double")).as("closure_rate"))
      },
      Some(s"""WITH $mhCtes,
              |e AS (SELECT a_id AS x, b_id AS y FROM pairs),
              |w AS (SELECT ab.x, ab.y, bc.y AS z FROM e ab JOIN e bc ON ab.y = bc.x),
              |t AS (SELECT w.x FROM w JOIN e ac ON w.x = ac.x AND w.z = ac.y)
              |SELECT (SELECT COUNT(*) FROM w) AS wedges,
              |       (SELECT COUNT(*) FROM t) AS triangles,
              |       (SELECT COUNT(*) FROM t) / CAST((SELECT COUNT(*) FROM w) AS DOUBLE) AS closure_rate""".stripMargin)),

    // ANN quality measurement: recall@10 of the LSH-bucketed search
    // against exact brute-force cosine, for a batch of 8 probes in ONE
    // corpus pass each. The approximate side is the thing being
    // graded, so BOTH sides are replayed in the oracle — bucket
    // arithmetic and the exact ranking — making recall itself an
    // oracle-checked quantity, not a local assertion.
    QueryDef("q175_ann_recall",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, dir)
        val probeIds = (0L until 8L)
        val approx = AnnLsh.batchTopK(emb, "vec_id", "embedding", probeIds, k = 10)
          .select(col("probe_id"), col("id").as("vec_id"), lit(1).as("hit"))
        val e = emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        val probes = broadcast(e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"), col("v").as("pv")))
        val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
        val truth = e.crossJoin(probes)
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            AnnLsh.cosine(col("v"), col("pv")).as("sim"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
          .select(col("probe_id"), col("vec_id"))
        truth.join(approx, Seq("probe_id", "vec_id"), "left")
          .groupBy("probe_id")
          .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
          .select(col("probe_id"), col("hits"), (col("hits") / lit(10.0)).as("recall"))
          .orderBy("probe_id")
      },
      Some(s"""WITH $annSigs,
              |probes AS (SELECT vec_id AS probe_id, v AS pv, buckets AS pbuckets
              |           FROM sigs WHERE vec_id < 8),
              |cand AS (
              |  SELECT probe_id, vec_id, $cosineSql AS sim
              |  FROM sigs CROSS JOIN probes
              |  WHERE vec_id != probe_id AND len(list_intersect(buckets, pbuckets)) > 0),
              |approx AS (
              |  SELECT probe_id, vec_id FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
              |    FROM cand) WHERE rn <= 10),
              |truth AS (
              |  SELECT probe_id, vec_id FROM (
              |    SELECT probe_id, vec_id,
              |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
              |    FROM (
              |      SELECT p.probe_id, s.vec_id, $cosineSql AS sim
              |      FROM sigs s CROSS JOIN (SELECT vec_id AS probe_id, v AS pv
              |                              FROM sigs WHERE vec_id < 8) p
              |      WHERE s.vec_id != p.probe_id) x) WHERE rn <= 10)
              |SELECT t.probe_id,
              |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
              |  SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0 AS recall
              |FROM truth t LEFT JOIN approx a USING (probe_id, vec_id)
              |GROUP BY t.probe_id ORDER BY t.probe_id""".stripMargin)),

    // Native codegen'd cosine Expression (Q40's declared fast path):
    // same oracle as q40 — bit-identical by construction, only the
    // physical plan differs (fused loop instead of HOF lambdas).
    QueryDef("q65_cosine_native",
      (s, dir) => {
        import graft.functions.CosineSimilarity.cosine
        graft.functions.CosineSimilarity.register(s)
        // raw float arrays — the expression widens per element, so the
        // whole projection stays inside whole-stage codegen (a
        // transform(cast) pass would break WSCG for the stage)
        val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val probe = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("pv")))
        e.crossJoin(probe)
          .select(col("vec_id"), cosine(col("embedding"), col("pv")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id,
             |list_dot_product(v, pv) / sqrt(list_dot_product(v, v) * list_dot_product(pv, pv)) AS sim
             |FROM e CROSS JOIN p
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Scalable as-of join (union + ordered window: one shuffle + one
    // sort instead of a range join). Must produce exactly q16's
    // MAX-formulation result → same oracle.
    QueryDef("q66_asof_window",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
        AsOfJoin.lastBefore(purchases, clicks, key = "user_id", time = "ts",
            valueCols = Seq("click_ts"))
          .filter(col("asof_click_ts").isNotNull)
          .select(col("event_id"), col("asof_click_ts").as("last_click_ts"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, MAX(CAST(c.ts AS TIMESTAMP)) AS last_click_ts
             |FROM events p JOIN events c
             |ON c.user_id = p.user_id AND c.event_type = 'click'
             |AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
             |WHERE p.event_type = 'purchase'
             |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin)),

    // IVF-partitioned ANN: search only the nprobe cells nearest the
    // probe. The oracle replays the whole deterministic quantizer in
    // SQL: k = max(16, ⌊√n⌋) lowest-id seeds (scaledK — the same
    // count-derived rule) → argmin assignment (left-fold dist², the
    // q35-proven list_reduce form) → per-dimension means rounded to
    // micros (matching IvfIndex.centroids' quantization, so AVG ulp
    // noise can't flip a cell) → re-assignment → 4 nearest cells to the
    // probe → cosine top-10. AnnSpec separately asserts score
    // consistency vs brute force.
    QueryDef("q67_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // index AND its quantizer staged as one content-keyed
        // artifact: the centroid sidecar rides inside the index dir,
        // so the timed path is read-centroids + partition-pruned
        // search only — the honest serving-time shape (centroid
        // recompute was two driver jobs per probe). Searches go
        // through the TABLE so the cell filter prunes at the
        // file-listing level (asserted in PlanSpec).
        val path = Fixtures.stagedIvf(s, dir)
        val cs = IvfIndex.readCentroids(path)
        val index = s.read.parquet(path)
        val probe = emb.filter(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")))
          .head().getSeq[Double](0)
        IvfIndex.search(index.filter(col("id") =!= 0), cs, probe, nprobe = 4, topK = 10)
      },
      Some {
        s"""WITH $ivfAssignCtes,
           |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
           |pcells AS (
           |  SELECT cell FROM (
           |    SELECT g.g AS cell, ${ivfD2("pv", "cs[g.g+1]")} AS dist
           |    FROM generate_series(0,4095) g(g), cents, probe
           |    WHERE g.g < ${Fixtures.ivfKSql})
           |  ORDER BY dist, cell LIMIT 4)
           |SELECT vec_id AS id, $cosineSql AS sim
           |FROM a1, probe
           |WHERE vec_id != 0 AND cell IN (SELECT cell FROM pcells)
           |ORDER BY sim DESC, id LIMIT 10""".stripMargin
      }),

    // Product-quantization ANN (IVF-PQ's storage half): 8 subspaces ×
    // 16 micros-rounded centroids, vectors stored as 8 int codes (32×
    // smaller than the floats — the memory lever for billion-vector
    // search), probe answered by asymmetric-distance lookups against a
    // 128-entry table. Codebooks/codes/ADC scores are all fixed-order
    // exact-double arithmetic, so DuckDB replays the entire train →
    // encode → search pipeline bit-for-bit. Index + codebook sidecar
    // staged content-keyed (the q67 lesson: the timed path reads the
    // artifact, never re-trains).
    QueryDef("q202_ann_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Fixtures.stagedDir(dir, "embeddings", "pq_index_v1") { tmp =>
          val cb = PqIndex.codebooks(emb, "vec_id", "embedding", m = 8, k = 16)
          PqIndex.encode(emb, "vec_id", "embedding", cb)
            .write.mode("overwrite").parquet(tmp)
          PqIndex.writeCodebooks(cb, tmp)
        }
        val cb = PqIndex.readCodebooks(path, m = 8)
        val encoded = s.read.parquet(path)
        val probe = emb.filter(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")))
          .head().getSeq[Double](0)
        PqIndex.search(encoded.filter(col("id") =!= 0), cb, probe, topK = 10)
      },
      Some {
        val d28 = (a: String, b: String) =>
          s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1,8),
             |      i -> ($a[i]-$b[i])*($a[i]-$b[i]))), (acc,x) -> acc+x)""".stripMargin
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |seeds AS (SELECT list(v ORDER BY vec_id) AS s
           |          FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
           |jj AS (SELECT j FROM generate_series(0,7) t(j)),
           |ssv AS (SELECT j, list_transform(s, c -> c[j*8+1 : j*8+8]) AS sj
           |        FROM seeds, jj),
           |sv AS (SELECT vec_id, j, v[j*8+1 : j*8+8] AS sv FROM e, jj),
           |a0 AS (
           |  SELECT vec_id, j, sv, list_position(ds, list_min(ds)) - 1 AS cell
           |  FROM (SELECT sv.vec_id, sv.j, sv.sv,
           |    list_transform(sj, c -> ${d28("sv", "c")}) AS ds
           |    FROM sv JOIN ssv USING (j))),
           |m AS (
           |  SELECT j, cell, list(mm ORDER BY pos) AS mean FROM (
           |    SELECT j, cell, i.i AS pos, ROUND(AVG(sv[i.i]) * 1e6) / 1e6 AS mm
           |    FROM a0, generate_series(1,8) i(i)
           |    GROUP BY j, cell, i.i)
           |  GROUP BY j, cell),
           |cb AS (
           |  SELECT jj.j, g.g AS k, COALESCE(m.mean, ssv.sj[g.g+1]) AS cent
           |  FROM jj CROSS JOIN generate_series(0,15) g(g)
           |  JOIN ssv ON ssv.j = jj.j
           |  LEFT JOIN m ON m.j = jj.j AND m.cell = g.g),
           |cbl AS (SELECT j, list(cent ORDER BY k) AS cl FROM cb GROUP BY j),
           |enc AS (
           |  SELECT vec_id, j, list_position(ds2, list_min(ds2)) - 1 AS code
           |  FROM (SELECT sv.vec_id, sv.j, sv.sv,
           |    list_transform(cl, c -> ${d28("sv", "c")}) AS ds2
           |    FROM sv JOIN cbl USING (j))),
           |probe AS (SELECT j, sv AS pv FROM sv WHERE vec_id = 0),
           |lut AS (SELECT cb.j, cb.k, ${d28("pv", "cent")} AS pd
           |        FROM cb JOIN probe ON probe.j = cb.j),
           |dist AS (
           |  SELECT vec_id, list_reduce(list_prepend(0.0, list(pd ORDER BY j)),
           |    (acc,x) -> acc+x) AS d
           |  FROM (SELECT enc.vec_id, enc.j, lut.pd
           |        FROM enc JOIN lut ON lut.j = enc.j AND lut.k = enc.code)
           |  GROUP BY vec_id)
           |SELECT vec_id AS id, CAST(ROUND(d * 1e6) AS BIGINT) AS dist_micros
           |FROM dist WHERE vec_id <> 0
           |ORDER BY d, vec_id LIMIT 10""".stripMargin
      }),

    // Incrementally-maintained IVF index on the snapshot layer: the
    // coarse quantizer is trained ONCE on the base corpus and frozen;
    // new arrivals are assigned under it and appended as a normal
    // snapshot commit — no rebuild, which is the only viable shape
    // when the corpus grows continuously at 100 TB (a nightly re-train
    // re-clusters a fraction offline; serving appends between). Files
    // are written range-partitioned by cell, so the INT64 manifest
    // stats prune a probe's 4 cells at the FILE level across BOTH the
    // base and the incremental commits. The oracle replays the q67
    // k-means protocol with means over the BASE subset only (the
    // frozen quantizer), then assigns the full corpus.
    QueryDef("q203_ann_ivf_incremental",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val root = Fixtures.stagedDir(dir, "embeddings", "ivfinc_v3") { tmp =>
          val base = emb.filter(col("vec_id") < 400)
          val cb = IvfIndex.centroids(base, "vec_id", "embedding", k = 16)
          val cs = cb.map(_.toIndexedSeq).toIndexedSeq
          def assigned(df: org.apache.spark.sql.DataFrame) = IvfIndex.assignCells(
            df.select(col("vec_id").as("id"),
              transform(col("embedding"), x => x.cast("double")).as("v")), "v", cs)
            .withColumn("cell", col("cell").cast("bigint")) // INT64 → manifest stats
          assigned(base).repartitionByRange(8, col("cell"))
            .write.parquet(graft.ingest.Topics.tableDir(tmp, "ix"))
          graft.ingest.Snapshots.commit(tmp, "ix", maxPos = 0)
          // incremental batch under the FROZEN quantizer
          assigned(emb.filter(col("vec_id") >= 400)).repartitionByRange(4, col("cell"))
            .write.mode("append").parquet(graft.ingest.Topics.tableDir(tmp, "ix"))
          graft.ingest.Snapshots.commit(tmp, "ix", maxPos = 1)
          IvfIndex.writeCentroids(cb, tmp)
        }
        val cs = IvfIndex.readCentroids(root)
        val probe = emb.filter(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")))
          .head().getSeq[Double](0)
        val nearest = cs.zipWithIndex
          .map { case (c, i) => i -> c.zip(probe).map { case (a, b) => (a - b) * (a - b) }.sum }
          .sortBy(_._2).take(4).map(_._1)
        val idx = nearest.map(c => graft.ingest.Snapshots.readWhere(
            s, root, "ix", col("cell") === c.toLong))
          .reduce(_.unionByName(_))
        idx.filter(col("id") =!= 0)
          .select(col("id"), AnnLsh.cosine(col("v"), array(probe.map(lit): _*)).as("sim"))
          .orderBy(col("sim").desc, col("id"))
          .limit(10)
      },
      Some {
        val d2 = (vec: String, cent: String) =>
          s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1,64),
             |      i -> ($vec[i]-$cent[i])*($vec[i]-$cent[i]))), (acc,x) -> acc+x)""".stripMargin
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |b AS (SELECT vec_id, v FROM e WHERE vec_id < 400),
           |seeds AS (SELECT list(v ORDER BY vec_id) AS s
           |          FROM (SELECT vec_id, v FROM b ORDER BY vec_id LIMIT 16)),
           |a0 AS (
           |  SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cell
           |  FROM (SELECT vec_id, v,
           |    list_transform(s, c -> ${d2("v", "c")}) AS ds
           |    FROM b CROSS JOIN seeds)),
           |m AS (
           |  SELECT cell, list(mm ORDER BY pos) AS mean FROM (
           |    SELECT cell, i.i AS pos, ROUND(AVG(v[i.i]) * 1e6) / 1e6 AS mm
           |    FROM a0, generate_series(1,64) i(i)
           |    GROUP BY cell, i.i)
           |  GROUP BY cell),
           |cents AS (
           |  SELECT list(c ORDER BY cell) AS cs FROM (
           |    SELECT g.g AS cell, COALESCE(m.mean, s.s[g.g+1]) AS c
           |    FROM generate_series(0,15) g(g)
           |    LEFT JOIN m ON m.cell = g.g
           |    CROSS JOIN seeds s)),
           |a1 AS (
           |  SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cell
           |  FROM (SELECT vec_id, v,
           |    list_transform(cs, c -> ${d2("v", "c")}) AS ds
           |    FROM e CROSS JOIN cents)),
           |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
           |pcells AS (
           |  SELECT cell FROM (
           |    SELECT g.g AS cell, ${d2("pv", "cs[g.g+1]")} AS dist
           |    FROM generate_series(0,15) g(g), cents, probe)
           |  ORDER BY dist, cell LIMIT 4)
           |SELECT vec_id AS id, $cosineSql AS sim
           |FROM a1, probe
           |WHERE vec_id != 0 AND cell IN (SELECT cell FROM pcells)
           |ORDER BY sim DESC, id LIMIT 10""".stripMargin
      }),

    // Native fused L2 distance (graft_l2): embedding-distance top-k
    // with one codegen'd loop; oracle replays the identical left fold.
    QueryDef("q98_l2_topk",
      (s, dir) => {
        graft.functions.L2Distance.register(s)
        val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val probe = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("pv")))
        e.crossJoin(probe)
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            graft.functions.L2Distance.l2(col("embedding"), col("pv")).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id,
             |sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64),
             |  i -> (v[i]-pv[i])*(v[i]-pv[i]))), (acc,x) -> acc+x)) AS dist
             |FROM e CROSS JOIN p WHERE vec_id != 0
             |ORDER BY dist, vec_id LIMIT 10""".stripMargin)),

    // Pre-normalized cosine: normalize the corpus ONCE, then similarity
    // is a bare dot product — at scale the normalized table is
    // materialized and every probe/pair afterwards skips both norm
    // computations (halves the ANN sweep's arithmetic). The oracle
    // replays normalize-then-dot with the same fold order.
    QueryDef("q99_cosine_prenorm",
      (s, dir) => {
        def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
        val e = Tables.embeddings(s, dir).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        val normed = e
          .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("n"))
          .select(col("vec_id"), transform(col("v"), x => x / col("n")).as("nv"))
        val probe = broadcast(normed.filter(col("vec_id") === 0)
          .select(col("nv").as("pnv")))
        normed.crossJoin(probe)
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), dot(col("nv"), col("pnv")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |nrm AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e),
             |p AS (SELECT nv AS pnv FROM nrm WHERE vec_id = 0)
             |SELECT vec_id, list_dot_product(nv, pnv) AS sim
             |FROM nrm CROSS JOIN p WHERE vec_id != 0
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Embedding near-duplicate sweep over LSH buckets; oracle replays
    // "collides in ≥1 table" as a non-empty bucket intersection.
    QueryDef("q64_embedding_neardup",
      (s, dir) => AnnLsh.bucketedPairs(Tables.embeddings(s, dir), "vec_id", "embedding")
        .filter(col("sim") > 0.2)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH $annSigs
              |SELECT * FROM (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    list_dot_product(a.v, b.v)
              |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS sim
              |  FROM sigs a JOIN sigs b
              |    ON a.vec_id < b.vec_id
              |   AND len(list_intersect(a.buckets, b.buckets)) > 0)
              |WHERE sim > 0.2 ORDER BY a_id, b_id""".stripMargin)),

    // Incremental near-dedup: a NEW batch (docs 400+, plus injected
    // near-exact copies of history docs) matched against the
    // already-ingested corpus's fingerprint store — the steady-state
    // pipeline shape where per-arrival cost must not grow with corpus
    // history. The oracle replays the full signature arithmetic for
    // both sides and the band-bucket join.
    QueryDef("q139_incremental_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val history = d.filter(col("doc_id") < 400)
          .select(col("doc_id").as("id"), col("text"))
        val batch = d.filter(col("doc_id") >= 400)
          .select(col("doc_id").as("id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 200000).as("id"), col("text")))
        MinHashLSH.incrementalCandidates(history, batch, "id", "text")
          .filter(col("est_jaccard") >= 0.5)
          .groupBy(col("new_id"))
          .agg(count(lit(1)).as("matches"),
            min("hist_id").as("first_match"),
            max("est_jaccard").as("best_est"))
          .orderBy("new_id")
      },
      Some({
        val a = MinHashLSH.A.mkString("[", ",", "]")
        val b = MinHashLSH.B.mkString("[", ",", "]")
        s"""WITH allsides AS (
           |  SELECT 'h' AS side, doc_id AS id, text FROM documents WHERE doc_id < 400
           |  UNION ALL SELECT 'n', doc_id, text FROM documents WHERE doc_id >= 400
           |  UNION ALL SELECT 'n', doc_id + 200000, text FROM documents WHERE doc_id < 10),
           |sh AS (
           |  SELECT side, id, list_distinct(list_transform(
           |    generate_series(1, len(string_split(text,' ')) - 2),
           |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
           |  FROM allsides WHERE len(string_split(text,' ')) >= 3),
           |sigs AS (
           |  SELECT side, id, list_transform(generate_series(0,15), i ->
           |    list_min(list_transform(sh, s ->
           |      ($a[i+1] * CAST(('0x' || substr(md5(s),1,8)) AS BIGINT) + $b[i+1]) % ${MinHashLSH.P}))) AS sig
           |  FROM sh WHERE len(sh) > 0),
           |buckets AS (
           |  SELECT side, id, sig, j.j AS band,
           |    md5(array_to_string(list_transform(list_slice(sig, j.j*4+1, j.j*4+4), v -> CAST(v AS VARCHAR)), '-')) AS key
           |  FROM sigs, generate_series(0,3) j(j)),
           |cand AS (
           |  SELECT DISTINCT n.id AS new_id, h.id AS hist_id,
           |    list_sum(list_transform(generate_series(1,16),
           |      i -> CASE WHEN n.sig[i] = h.sig[i] THEN 1 ELSE 0 END)) / CAST(16 AS DOUBLE) AS est
           |  FROM buckets n JOIN buckets h ON n.band = h.band AND n.key = h.key
           |  WHERE n.side = 'n' AND h.side = 'h')
           |SELECT new_id, COUNT(*) AS matches, MIN(hist_id) AS first_match,
           |  CAST(MAX(est) AS DOUBLE) AS best_est
           |FROM cand WHERE est >= 0.5 GROUP BY new_id ORDER BY new_id""".stripMargin
      })),

    // Containment dedup: |A∩B| / min(|A|,|B|) over shingle sets — the
    // asymmetric measure that catches SUB-document duplication (a
    // fragment inside a larger doc), which symmetric Jaccard dilutes
    // below any dedup threshold. Fixture injects 10 exact dups
    // (+100000) and 10 prefix fragments at ~4/5 length (+200000); the
    // output labels each LSH candidate pair, so the fragment rows'
    // high-containment/lower-Jaccard split is itself oracle-checked —
    // as is LSH's PARTIAL recall on fragments (banding probability
    // falls with Jaccard; the honest limitation, measured not hidden).
    QueryDef("q212_containment_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val toks = split(col("text"), " ")
        val fragText = concat_ws(" ",
          slice(toks, lit(1), greatest(lit(3), expr("(size(split(text, ' ')) * 4) div 5").cast("int"))))
        val corpus = d.select(col("doc_id").as("id"), col("text"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 100000).as("id"), col("text")))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 200000).as("id"), fragText.as("text")))
        // pairs materialized once (r15): the containment stage
        // references them three ways (pair join + both id sides of the
        // candidate set), which would clone the MinHash subtree into
        // every branch of the plan — catalyst planning cost scales
        // with the clones; the pair list is metadata-small
        val pairs = MinHashLSH.candidatePairs(corpus, "id", "text")
          .select("a_id", "b_id").localCheckpoint(true)
        // bind the token array through MinHashLSH.shingles' HOF
        // argument — an inline slice(t, …) lambda re-inlines split()
        // per ELEMENT (no CSE inside lambdas): O(tokens²)/doc. Jaccard/
        // containment are over SETS → distinct once here; |A∪B| then
        // derives from sizes (|A|+|B|−|A∩B|), no union array built.
        def shingles(c: Column): Column =
          array_distinct(MinHashLSH.shingles(c))
        val candIds = pairs
          .select(explode(array(col("a_id"), col("b_id"))).as("id")).distinct()
        val sh = corpus.join(candIds, Seq("id"), "left_semi")
          .select(col("id"), shingles(col("text")).as("sh"))
          .repartition(col("id"))
        val inter = size(array_intersect(col("sa"), col("sb")))
        pairs
          .join(sh.select(col("id").as("a_id"), col("sh").as("sa")), Seq("a_id"))
          .join(sh.select(col("id").as("b_id"), col("sh").as("sb")), Seq("b_id"))
          .select(
            when(col("b_id") >= 200000, "fragment")
              .when(col("b_id") >= 100000, "dup")
              .otherwise("natural").as("pair_type"),
            col("a_id"), col("b_id"),
            floor(lit(1000000L) * inter /
              (size(col("sa")) + size(col("sb")) - inter))
              .cast("bigint").as("jacc_ppm"),
            floor(lit(1000000L) * inter /
              least(size(col("sa")), size(col("sb")))).cast("bigint").as("cont_ppm"))
          .orderBy("pair_type", "a_id", "b_id")
      },
      Some(s"""WITH ${mhCtesFor(
        """  SELECT doc_id AS id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id < 10
          |  UNION ALL SELECT doc_id + 200000 AS id,
          |    array_to_string(list_slice(string_split(text, ' '), 1,
          |      GREATEST(3, (len(string_split(text, ' ')) * 4) // 5)), ' ') AS text
          |  FROM documents WHERE doc_id < 10""".stripMargin)}
              |SELECT
              |  CASE WHEN p.b_id >= 200000 THEN 'fragment'
              |       WHEN p.b_id >= 100000 THEN 'dup'
              |       ELSE 'natural' END AS pair_type,
              |  p.a_id, p.b_id,
              |  CAST(FLOOR(1000000 * len(list_intersect(a.sh, b.sh)) /
              |    len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS jacc_ppm,
              |  CAST(FLOOR(1000000 * len(list_intersect(a.sh, b.sh)) /
              |    LEAST(len(a.sh), len(b.sh))) AS BIGINT) AS cont_ppm
              |FROM pairs p
              |JOIN sh a ON a.id = p.a_id
              |JOIN sh b ON b.id = p.b_id
              |ORDER BY pair_type, a_id, b_id""".stripMargin)),

    // Image near-dup via perceptual hash: REAL PNGs (encoded and
    // decoded through the JDK codec, q188's contract) are aHashed —
    // 8×8 nearest grid, bit = 64·g ≥ Σg, 64-char bitstring — then
    // candidate pairs come from BLOCKING on the first 16 hash bits
    // (the LSH discipline: never all-pairs at corpus scale) and pairs
    // within Hamming ≤ 8 survive. Ten +3-brightness variants are
    // injected; the %256 wrap flips only wrap-crossing cells, so
    // variant pairs land a few bits from their base — IF the wrap
    // didn't touch the blocking prefix, and that partial recall is
    // part of the checked output (q212's honesty rule). The oracle
    // replays grid/hash/blocking arithmetically — the codec
    // round-trip is what the engine side proves.
    QueryDef("q224_image_phash",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val ids = d.filter(col("doc_id") < 50)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0L).as("brt"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000).as("media_id"), col("doc_id").as("seed"),
              lit(3L).as("brt")))
        val hashes = ids
          .select(col("media_id"),
            Multimodal.ahashUdf(Multimodal.makePng2Udf(col("seed"), col("brt"))).as("h"))
          .withColumn("block", substring(col("h"), 1, 16))
        val a = hashes.select(col("media_id").as("a_id"), col("h").as("ha"), col("block"))
        val b = hashes.select(col("media_id").as("b_id"), col("h").as("hb"), col("block"))
        a.join(b, Seq("block")).filter(col("a_id") < col("b_id"))
          .withColumn("hamming",
            expr("size(filter(sequence(1, 64), i -> substr(ha, i, 1) != substr(hb, i, 1)))"))
          .filter(col("hamming") <= 8)
          .select(
            when(col("b_id") >= 1000, "variant").otherwise("natural").as("pair_type"),
            col("a_id"), col("b_id"), col("hamming"))
          .orderBy("pair_type", "a_id", "b_id")
      },
      Some("""WITH ids AS (
             |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS brt
             |  FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 1000, doc_id, 3 FROM documents WHERE doc_id < 10),
             |dims AS (SELECT media_id, seed, brt,
             |    8 + seed % 9 AS w, 8 + seed % 7 AS h FROM ids),
             |hg AS (SELECT media_id,
             |    list_transform(generate_series(0, 63), k ->
             |      ((((k % 8) * w) // 8) * 7 + (((k // 8) * h) // 8) * 13 + seed + brt) % 256) AS g
             |  FROM dims),
             |hs0 AS (SELECT media_id, g, list_sum(g) AS s FROM hg),
             |hs AS (SELECT media_id,
             |    array_to_string(list_transform(g, v ->
             |      CASE WHEN 64 * v >= s THEN '1' ELSE '0' END), '') AS h
             |  FROM hs0),
             |hb AS (SELECT media_id, h, substr(h, 1, 16) AS block FROM hs)
             |SELECT CASE WHEN b.media_id >= 1000 THEN 'variant' ELSE 'natural' END AS pair_type,
             |  a.media_id AS a_id, b.media_id AS b_id,
             |  CAST(len(list_filter(generate_series(1, 64), i -> a.h[i] != b.h[i])) AS INT) AS hamming
             |FROM hb a JOIN hb b ON a.block = b.block AND a.media_id < b.media_id
             |WHERE len(list_filter(generate_series(1, 64), i -> a.h[i] != b.h[i])) <= 8
             |ORDER BY pair_type, a_id, b_id""".stripMargin)),

    // Audio near-dup via energy-contour fingerprint — q224's pattern
    // on the third modality: real WAVs round-trip the JDK codec, the
    // 15-bit energy-trend fingerprint blocks on its first 8 bits, and
    // pairs within Hamming ≤ 3 survive. Ten +7-sample-offset variants
    // injected; the %2001 wrap perturbs only wrap-crossing samples,
    // so variants land a few bits from their base when the prefix
    // holds (partial blocking recall is checked output, as in q212/
    // q224). Oracle replays sample/energy arithmetic; the engine side
    // proves encode→decode→fingerprint on real containers.
    QueryDef("q225_audio_fingerprint",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val ids = d.filter(col("doc_id") < 50)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0L).as("brt"))
          .unionAll(d.filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000).as("media_id"), col("doc_id").as("seed"),
              lit(7L).as("brt")))
        val fps = ids
          .select(col("media_id"),
            Multimodal.audioFpUdf(Multimodal.makeWav2Udf(col("seed"), col("brt"))).as("h"))
          .withColumn("block", substring(col("h"), 1, 8))
        val a = fps.select(col("media_id").as("a_id"), col("h").as("ha"), col("block"))
        val b = fps.select(col("media_id").as("b_id"), col("h").as("hb"), col("block"))
        a.join(b, Seq("block")).filter(col("a_id") < col("b_id"))
          .withColumn("hamming",
            expr("size(filter(sequence(1, 15), i -> substr(ha, i, 1) != substr(hb, i, 1)))"))
          .filter(col("hamming") <= 3)
          .select(
            when(col("b_id") >= 1000, "variant").otherwise("natural").as("pair_type"),
            col("a_id"), col("b_id"), col("hamming"))
          .orderBy("pair_type", "a_id", "b_id")
      },
      Some("""WITH ids AS (
             |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS brt
             |  FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 1000, doc_id, 7 FROM documents WHERE doc_id < 10),
             |dims AS (SELECT media_id, seed, brt, 64 + seed % 64 AS n FROM ids),
             |fe AS (SELECT media_id,
             |    list_transform(generate_series(0, 15), f ->
             |      list_sum(list_transform(
             |        generate_series((f * n) // 16, ((f + 1) * n) // 16 - 1), t ->
             |          (((t * 37 + seed * 11 + brt) % 2001) - 1000) *
             |          (((t * 37 + seed * 11 + brt) % 2001) - 1000)))) AS e
             |  FROM dims),
             |fs AS (SELECT media_id,
             |    array_to_string(list_transform(generate_series(2, 16), f ->
             |      CASE WHEN e[f] >= e[f - 1] THEN '1' ELSE '0' END), '') AS h
             |  FROM fe),
             |fb AS (SELECT media_id, h, substr(h, 1, 8) AS block FROM fs)
             |SELECT CASE WHEN b.media_id >= 1000 THEN 'variant' ELSE 'natural' END AS pair_type,
             |  a.media_id AS a_id, b.media_id AS b_id,
             |  CAST(len(list_filter(generate_series(1, 15), i -> a.h[i] != b.h[i])) AS INT) AS hamming
             |FROM fb a JOIN fb b ON a.block = b.block AND a.media_id < b.media_id
             |WHERE len(list_filter(generate_series(1, 15), i -> a.h[i] != b.h[i])) <= 3
             |ORDER BY pair_type, a_id, b_id""".stripMargin)),

    // Video near-dup — the q224/q225 pattern on the fourth modality,
    // completing the dedup family across text/image/audio/video: each
    // clip's fingerprint is the frame-ordered concatenation of
    // sampled-frame aHashes (real container chunk-walk + JDK pixel
    // decode per frame, q190's machinery), candidates come from
    // BLOCKING on the first 16 bits of the first sampled frame plus
    // an equal-length guard (clips of different frame counts never
    // align), and pairs within Hamming ≤ len/8 survive. Eight
    // +7-brightness variant clips are injected; the %256 wrap flips
    // only wrap-crossing cells per frame, so variants land near their
    // base when the blocking prefix holds — partial recall is checked
    // output (q212's honesty rule).
    QueryDef("q232_video_neardup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val ids = d.filter(col("doc_id") < 48)
          .select(col("doc_id").as("media_id"), col("doc_id").as("seed"),
            lit(0L).as("off"))
          .unionAll(d.filter(col("doc_id") < 8)
            .select((col("doc_id") + 1000).as("media_id"), col("doc_id").as("seed"),
              lit(7L).as("off")))
        val fps = ids
          .select(col("media_id"),
            Multimodal.clipFpUdf(Multimodal.makeClip2Udf(col("seed"), col("off"))).as("h"))
          .withColumn("block", substring(col("h"), 1, 16))
          .withColumn("hl", length(col("h")))
        val a = fps.select(col("media_id").as("a_id"), col("h").as("ha"),
          col("block"), col("hl"))
        val b = fps.select(col("media_id").as("b_id"), col("h").as("hb"),
          col("block"), col("hl"))
        a.join(b, Seq("block", "hl")).filter(col("a_id") < col("b_id"))
          .withColumn("hamming",
            expr("size(filter(sequence(1, hl), i -> substr(ha, i, 1) != substr(hb, i, 1)))"))
          .filter(col("hamming") <= expr("hl div 8"))
          .select(
            when(col("b_id") >= 1000, "variant").otherwise("natural").as("pair_type"),
            col("a_id"), col("b_id"), col("hamming"))
          .orderBy("pair_type", "a_id", "b_id")
      },
      Some("""WITH ids AS (
             |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS off
             |  FROM documents WHERE doc_id < 48
             |  UNION ALL
             |  SELECT doc_id + 1000, doc_id, 7 FROM documents WHERE doc_id < 8),
             |fr AS (SELECT media_id, seed, off,
             |    unnest(generate_series(0, (4 + seed % 4) - 1)) AS f FROM ids),
             |sf AS (SELECT media_id, off, f, seed + f AS fseed,
             |    8 + (seed + f) % 9 AS w, 8 + (seed + f) % 7 AS h
             |  FROM fr WHERE f % 2 = 0),
             |hg AS (SELECT media_id, f,
             |    list_transform(generate_series(0, 63), k ->
             |      ((((k % 8) * w) // 8) * 7 + (((k // 8) * h) // 8) * 13 + fseed + off) % 256) AS g
             |  FROM sf),
             |h0 AS (SELECT media_id, f, g, list_sum(g) AS s FROM hg),
             |fh AS (SELECT media_id, f,
             |    array_to_string(list_transform(g, v ->
             |      CASE WHEN 64 * v >= s THEN '1' ELSE '0' END), '') AS fh
             |  FROM h0),
             |hs AS (SELECT media_id, string_agg(fh, '' ORDER BY f) AS h
             |       FROM fh GROUP BY media_id),
             |hb AS (SELECT media_id, h, substr(h, 1, 16) AS block,
             |       CAST(len(h) AS INT) AS hl FROM hs)
             |SELECT CASE WHEN b.media_id >= 1000 THEN 'variant' ELSE 'natural' END AS pair_type,
             |  a.media_id AS a_id, b.media_id AS b_id,
             |  CAST(len(list_filter(generate_series(1, a.hl), i -> a.h[i] != b.h[i])) AS INT) AS hamming
             |FROM hb a JOIN hb b ON a.block = b.block AND a.hl = b.hl AND a.media_id < b.media_id
             |WHERE len(list_filter(generate_series(1, a.hl), i -> a.h[i] != b.h[i])) <= a.hl // 8
             |ORDER BY pair_type, a_id, b_id""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): semantic dedup blocked by k-means
    // cells instead of LSH buckets — cluster the embedding space with
    // the SAME staged IVF quantizer q67 serves from (one artifact,
    // zero extra build), then call two vectors semantic duplicates
    // when their cosine inside a cell exceeds tau; the deterministic
    // survivor rule keeps the lowest id of each duplicate
    // neighborhood (a vector is removed iff ANY lower-id in-cell
    // duplicate partner exists — q87's min-id survivorship at the
    // embedding grain). Output is the bounded per-cell summary
    // (k rows at any corpus size), never the pair list.
    //
    // 100-TB shape: the in-cell self-join is ONE shuffle on `cell`;
    // cost is sum(|cell|^2), which is exactly the published
    // algorithm's knob — k grows with the corpus so |cell| stays
    // bounded (k = max(16, ⌊√n⌋) via IvfIndex.scaledK), and cells are
    // file-partitioned so each task joins one cell's files.
    QueryDef("q227_semantic_dedup",
      (s, dir) => {
        val path = Fixtures.stagedIvf(s, dir)
        val index = s.read.parquet(path)
        val a = index.select(col("cell"), col("id").as("a_id"), col("v").as("va"))
        val b = index.select(col("cell"), col("id").as("b_id"), col("v").as("vb"))
        val removed = a.join(b, "cell")
          .filter(col("a_id") < col("b_id"))
          .filter(AnnLsh.cosine(col("va"), col("vb")) > 0.3)
          .select(col("cell"), col("b_id").as("id")).distinct()
          .groupBy("cell").agg(count(lit(1)).as("n_removed"))
        index.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
          .join(removed, Seq("cell"), "left")
          .select(col("cell").cast("int").as("cell"), col("n_vectors"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            (col("n_vectors") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
          .orderBy("cell")
      },
      Some(
        s"""WITH $ivfAssignCtes,
           |rem AS (
           |  SELECT cell, COUNT(DISTINCT b_id) AS n_removed FROM (
           |    SELECT a.cell AS cell, b.vec_id AS b_id
           |    FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |    WHERE list_dot_product(a.v, b.v)
           |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) > 0.3)
           |  GROUP BY cell),
           |sz AS (SELECT cell, COUNT(*) AS n_vectors FROM a1 GROUP BY cell)
           |SELECT CAST(sz.cell AS INT) AS cell, sz.n_vectors,
           |  COALESCE(rem.n_removed, 0) AS n_removed,
           |  sz.n_vectors - COALESCE(rem.n_removed, 0) AS n_kept
           |FROM sz LEFT JOIN rem ON rem.cell = sz.cell
           |ORDER BY cell""".stripMargin)),

    // Semantic decontamination (round 9) — the embedding-level
    // complement of q137's n-gram decontamination: train vectors whose
    // cosine to ANY held-out test vector exceeds the threshold are
    // leakage and must leave the training set. Blocked through the
    // SAME staged IVF artifact as q227/q278 (join on cell = cell, no
    // broadcast hint, never all-pairs): at 100 TB each cell compares
    // its own train×test slice only, and the test panel is a
    // deterministic id-hash split so the oracle replays the exact
    // blocking + split + threshold.
    QueryDef("q304_semantic_decontamination",
      (s, dir) => {
        val path = Fixtures.stagedIvf(s, dir)
        val index = s.read.parquet(path)
        val test = index.filter(col("id") % 10 === 7)
          .select(col("cell"), col("id").as("t_id"), col("v").as("tv"))
        val train = index.filter(col("id") % 10 =!= 7)
          .select(col("cell"), col("id"), col("v"))
        val leaked = train.join(test, "cell")
          .filter(AnnLsh.cosine(col("v"), col("tv")) > 0.3)
          .select(col("cell"), col("id")).distinct()
          .groupBy("cell").agg(count(lit(1)).as("n_leaked"))
        train.groupBy("cell").agg(count(lit(1)).as("n_train"))
          .join(index.filter(col("id") % 10 === 7)
            .groupBy("cell").agg(count(lit(1)).as("n_test")), Seq("cell"), "left")
          .join(leaked, Seq("cell"), "left")
          .select(col("cell").cast("int").as("cell"), col("n_train"),
            coalesce(col("n_test"), lit(0L)).as("n_test"),
            coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
            (col("n_train") - coalesce(col("n_leaked"), lit(0L))).as("n_clean"))
          .orderBy("cell")
      },
      Some(
        s"""WITH $ivfAssignCtes,
           |tr AS (SELECT cell, vec_id, v FROM a1 WHERE vec_id % 10 <> 7),
           |te AS (SELECT cell, vec_id, v FROM a1 WHERE vec_id % 10 = 7),
           |lk AS (
           |  SELECT cell, COUNT(DISTINCT id) AS n_leaked FROM (
           |    SELECT tr.cell AS cell, tr.vec_id AS id
           |    FROM tr JOIN te ON tr.cell = te.cell
           |    WHERE list_dot_product(tr.v, te.v)
           |      / sqrt(list_dot_product(tr.v, tr.v) * list_dot_product(te.v, te.v)) > 0.3)
           |  GROUP BY cell),
           |ntr AS (SELECT cell, COUNT(*) AS n_train FROM tr GROUP BY cell),
           |nte AS (SELECT cell, COUNT(*) AS n_test FROM te GROUP BY cell)
           |SELECT CAST(ntr.cell AS INT) AS cell, ntr.n_train,
           |  COALESCE(nte.n_test, 0) AS n_test,
           |  COALESCE(lk.n_leaked, 0) AS n_leaked,
           |  ntr.n_train - COALESCE(lk.n_leaked, 0) AS n_clean
           |FROM ntr LEFT JOIN nte ON nte.cell = ntr.cell
           |LEFT JOIN lk ON lk.cell = ntr.cell
           |ORDER BY cell""".stripMargin)),

    // Hard-negative mining — contrastive-training data prep: for each
    // probe, the most similar corpus vector with a DIFFERENT label
    // (the negative that teaches the most). Probe batch broadcasts
    // (bounded by construction), the corpus streams once, top-1 per
    // probe plans as the WindowGroupLimit rank-filter (q208's kNN
    // shape with a label-inequality join condition) — never a global
    // sort, never probe×corpus materialized.
    QueryDef("q242_hard_negatives",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        val probes = broadcast(
          e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 250)
            .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
              col("v").as("pv")))
        val scored = e.join(probes, col("label") =!= col("plabel"))
          .select(col("probe_id"), col("vec_id").as("neg_id"),
            AnnLsh.cosine(col("v"), col("pv")).as("sim"))
        scored.withColumn("rk", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("probe_id").orderBy(col("sim").desc, col("neg_id"))))
          .filter(col("rk") === 1)
          .select(col("probe_id"), col("neg_id"), col("sim"))
          .orderBy("probe_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv
             |      FROM e WHERE vec_id % 5 = 0 AND vec_id < 250),
             |sc AS (
             |  SELECT p.probe_id, e.vec_id AS neg_id,
             |    list_dot_product(e.v, p.pv)
             |      / sqrt(list_dot_product(e.v, e.v) * list_dot_product(p.pv, p.pv)) AS sim
             |  FROM e JOIN p ON e.label <> p.plabel),
             |rk AS (
             |  SELECT *, ROW_NUMBER() OVER
             |    (PARTITION BY probe_id ORDER BY sim DESC, neg_id) AS rk
             |  FROM sc)
             |SELECT probe_id, neg_id, sim FROM rk WHERE rk = 1
             |ORDER BY probe_id""".stripMargin)),

    // Nearest-centroid (Rocchio) classification: one micros-quantized
    // mean vector per label from the train split (the IvfIndex
    // centroid discipline — AVG's summation-order ulp cannot flip an
    // assignment), held-out probes assigned by argmin distance² over
    // the 10 label centroids, confusion matrix out. Centroids are
    // driver metadata (10×64 doubles); classification is one
    // map-side pass — the cheapest embedding classifier that exists,
    // and the one whose whole pipeline both engines replay exactly.
    QueryDef("q243_nearest_centroid",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        val isProbe = col("vec_id") % 5 === 0 && col("vec_id") < 250
        val cents = e.filter(!isProbe)
          .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("label", "pos").agg((round(avg("x") * 1e6) / 1e6).as("m"))
          .groupBy("label")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            st => st.getField("m")).as("mean"))
          .collect().map(r => r.getAs[Int]("label") -> r.getSeq[Double](1).toIndexedSeq)
          .toMap
        val cs = (0 to 9).map(cents(_))
        IvfIndex.assignCells(e.filter(isProbe), "v", cs.toIndexedSeq)
          .groupBy(col("label").cast("int").as("true_label"),
            col("cell").as("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy("true_label", "pred_label")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |tr AS (SELECT * FROM e WHERE NOT (vec_id % 5 = 0 AND vec_id < 250)),
              |m AS (SELECT label, i.i AS pos, ROUND(AVG(v[i.i]) * 1e6) / 1e6 AS mm
              |      FROM tr, generate_series(1,64) i(i) GROUP BY 1, 2),
              |cl AS (SELECT label, list(mm ORDER BY pos) AS c FROM m GROUP BY 1),
              |cs AS (SELECT list(c ORDER BY label) AS cs FROM cl),
              |pr AS (SELECT vec_id, label, v FROM e WHERE vec_id % 5 = 0 AND vec_id < 250),
              |a AS (
              |  SELECT label AS true_label,
              |    list_position(ds, list_min(ds)) - 1 AS pred_label
              |  FROM (SELECT label,
              |    list_transform(cs, c -> ${ivfD2("v", "c")}) AS ds
              |    FROM pr CROSS JOIN cs))
              |SELECT CAST(true_label AS INT) AS true_label,
              |  CAST(pred_label AS INT) AS pred_label, COUNT(*) AS n
              |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Scene-cut detection on the motion-PNG clips: decode every 2nd
    // frame through the real container walk + JDK codec (clipFp —
    // the q232 fingerprint), then flag a cut wherever the aHash
    // Hamming distance between consecutive sampled frames exceeds
    // 8 of 64 bits — the classic keyframe segmentation shape. The
    // oracle replays the per-frame hash arithmetic and the same LAG.
    // Scale: one map-side decode pass per clip; the per-clip
    // transition window is bounded by frames-per-clip (constant),
    // so the window state never grows with corpus size.
    QueryDef("q256_scene_cuts",
      (s, dir) => {
        val fps = Tables.documents(s, dir).filter(col("doc_id") < 48)
          .select(col("doc_id"),
            Multimodal.clipFpUdf(Multimodal.makeClipUdf(col("doc_id"))).as("h"))
        // h = concatenated 64-char per-sampled-frame aHashes; k-th
        // sampled frame is original frame 2k (q190's protocol).
        // Exchange fence (the MinHashLSH pattern): without it,
        // project-collapse re-inlines the decode UDF into every
        // lambda reference below.
        val frames = fps.repartition(col("doc_id"))
          .select(col("doc_id"), posexplode(
            expr("transform(sequence(0, (length(h) div 64) - 1)," +
              " k -> substr(h, k * 64 + 1, 64))")).as(Seq("k", "fh")))
        val w = Window.partitionBy("doc_id").orderBy("k")
        frames.withColumn("prev", lag("fh", 1).over(w))
          .filter(col("prev").isNotNull)
          .withColumn("hamming",
            expr("size(filter(sequence(1, 64), i -> substr(fh, i, 1) != substr(prev, i, 1)))"))
          .select(col("doc_id"), (col("k") * 2).as("frame"),
            col("hamming"), (col("hamming") > 8).cast("int").as("is_cut"))
          .orderBy("doc_id", "frame")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, 4 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 48),
             |fr AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS f FROM d),
             |sf AS (SELECT doc_id, f, doc_id + f AS seed,
             |         8 + (doc_id + f) % 9 AS w, 8 + (doc_id + f) % 7 AS h
             |       FROM fr WHERE f % 2 = 0),
             |hg AS (SELECT doc_id, f,
             |    list_transform(generate_series(0, 63), k ->
             |      ((((k % 8) * w) // 8) * 7 + (((k // 8) * h) // 8) * 13 + seed) % 256) AS g
             |  FROM sf),
             |h0 AS (SELECT doc_id, f, g, list_sum(g) AS s FROM hg),
             |fh AS (SELECT doc_id, f,
             |    array_to_string(list_transform(g, v ->
             |      CASE WHEN 64 * v >= s THEN '1' ELSE '0' END), '') AS fh
             |  FROM h0),
             |lg AS (SELECT doc_id, f, fh,
             |    LAG(fh) OVER (PARTITION BY doc_id ORDER BY f) AS prev
             |  FROM fh)
             |SELECT doc_id, CAST(f AS INT) AS frame,
             |  CAST(len(list_filter(generate_series(1, 64), i -> fh[i] != prev[i])) AS INT) AS hamming,
             |  CAST(CASE WHEN len(list_filter(generate_series(1, 64), i -> fh[i] != prev[i])) > 8
             |       THEN 1 ELSE 0 END AS INT) AS is_cut
             |FROM lg WHERE prev IS NOT NULL
             |ORDER BY doc_id, frame""".stripMargin)),

    // Sparse similarity search through the inverted index — the
    // text-side complement of the dense ANN family: docs as sparse
    // rarity-weighted term vectors (w = tf · (1e6 − 1e6·df/N), the
    // scale-FREE linear-idf proxy: ∈ [0,1e6] at any corpus size, so
    // the pairwise dot can't overflow at 100 TB), pairwise dot
    // products computed ONLY where a shared term exists (join on
    // term = sparse dot through posting lists), with stop-terms
    // (df > N/10) dropped first — the posting-list cap that bounds
    // join fan-out exactly like the LSH bucket cap. Top-10 pairs.
    // One term-keyed shuffle + one pair-keyed agg; never all-pairs.
    // Restricted to doc_id < 400 probes to bound declared output.
    QueryDef("q267_sparse_similarity",
      (s, dir) => {
        val d = Tables.documents(s, dir).filter(col("doc_id") < 400)
        val n = d.count()
        val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .filter(length(col("t")) > 0)
          .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
          .filter(col("df") * 10 <= lit(n))
          .withColumn("rar", lit(1000000L) - expr(s"(1000000 * df) div ${n}L"))
        val w = tf.join(broadcast(df.select("t", "rar")), "t")
          .select(col("t"), col("doc_id"), (col("tf") * col("rar")).as("w"))
        val pairs = w.join(
            w.select(col("t"), col("doc_id").as("doc_b"), col("w").as("w_b")), "t")
          .filter(col("doc_id") < col("doc_b"))
          .groupBy(col("doc_id").as("a"), col("doc_b").as("b"))
          .agg(sum(col("w") * col("w_b")).as("dot"))
        pairs.orderBy(col("dot").desc, col("a"), col("b")).limit(10)
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
             |n AS (SELECT COUNT(*) AS n FROM d),
             |tf AS (
             |  SELECT doc_id, t, COUNT(*) AS tf FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d)
             |  WHERE len(t) > 0 GROUP BY 1, 2),
             |df AS (
             |  SELECT t, 1000000 - (1000000 * COUNT(*)) // n.n AS rar
             |  FROM tf, n GROUP BY t, n.n HAVING COUNT(*) * 10 <= n.n),
             |w AS (SELECT tf.t, doc_id, tf * rar AS w FROM tf JOIN df USING (t))
             |SELECT a.doc_id AS a, b.doc_id AS b,
             |  CAST(SUM(a.w * b.w) AS BIGINT) AS dot
             |FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY dot DESC, a, b LIMIT 10""".stripMargin)),

    // IVF serving-tuning curve: recall@10 as a function of nprobe
    // (1, 2, 4, 8, and k — the full scan — of k cells) over 8 probes against the exact
    // cosine top-10 — the measurement that decides an ANN deployment's
    // latency/recall point. SET-BASED, not 40 looped searches: score
    // every (probe, candidate) once (broadcast probes over the staged
    // index table), rank cells per probe from the centroid sidecar
    // (driver metadata), and slice the same score relation per nprobe
    // with one window — at 100 TB the scores scan happens once no
    // matter how many operating points are evaluated.
    QueryDef("q273_ivf_nprobe_curve",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val path = Fixtures.stagedIvf(s, dir)
        val cs = IvfIndex.readCentroids(path)
        val index = s.read.parquet(path)
        val probesLocal = emb.filter(col("vec_id") < 8)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("pv"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
        // per-probe cell ranking from the sidecar quantizer — the
        // same sequential-fold d2 and (dist, cell) tie-break as
        // IvfIndex.search
        import s.implicits._
        val cellRank = probesLocal.toSeq.flatMap { case (pid, pv) =>
          cs.zipWithIndex.map { case (c, cell) =>
            var d = 0.0; var i = 0
            while (i < c.length) { val t = c(i) - pv(i); d += t * t; i += 1 }
            (pid, cell, d)
          }.sortBy(t => (t._3, t._2)).zipWithIndex
            .map { case ((p, cell, _), rk) => (p, cell, rk + 1) }
        }.toDF("pid", "cell", "crk")
        val probes = broadcast(emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("pid"),
            transform(col("embedding"), x => x.cast("double")).as("pv")))
        val scores = index.join(probes, col("id") =!= col("pid"))
          .select(col("pid"), col("id"), col("cell"),
            AnnLsh.cosine(col("v"), col("pv")).as("sim"))
        val exact = scores.withColumn("rk", row_number().over(
            Window.partitionBy("pid").orderBy(col("sim").desc, col("id"))))
          .filter(col("rk") <= 10).select("pid", "id")
        // operating points 1..8 plus k itself — the full-scan point
        // stays on the curve at ANY corpus-scaled cell count (its
        // recall is exact by construction, which the spec pins)
        val nps = (Seq(1, 2, 4, 8) :+ cs.length).distinct.toDF("np")
        val ann = scores.join(broadcast(cellRank), Seq("pid", "cell"))
          .crossJoin(broadcast(nps))
          .filter(col("crk") <= col("np"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("np", "pid").orderBy(col("sim").desc, col("id"))))
          .filter(col("rk") <= 10).select("np", "pid", "id")
        nps.crossJoin(exact)
          .join(ann.withColumn("hit", lit(1)), Seq("np", "pid", "id"), "left")
          .groupBy("np").agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
          .select(col("np").as("nprobe"), col("hits"),
            expr("(1000000 * hits) div 80").as("recall_ppm"))
          .orderBy("nprobe")
      },
      Some {
        s"""WITH $ivfAssignCtes,
           |probes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 8),
           |cd AS (SELECT pid, g.g AS cell, ${ivfD2("pv", "cs[g.g+1]")} AS dist
           |       FROM generate_series(0,4095) g(g) CROSS JOIN cents CROSS JOIN probes
           |       WHERE g.g < ${Fixtures.ivfKSql}),
           |cr AS (SELECT pid, cell,
           |         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY dist, cell) AS crk
           |       FROM cd),
           |sc AS (SELECT p.pid, a.vec_id AS id, a.cell, $cosineSql AS sim
           |       FROM a1 a CROSS JOIN probes p WHERE a.vec_id <> p.pid),
           |ex AS (SELECT pid, id FROM (
           |         SELECT pid, id, ROW_NUMBER() OVER (PARTITION BY pid
           |           ORDER BY sim DESC, id) AS rk FROM sc) WHERE rk <= 10),
           |np AS (SELECT DISTINCT np FROM (
           |         SELECT unnest([1, 2, 4, 8]) AS np
           |         UNION ALL SELECT CAST(k AS INT) FROM kk)),
           |ann AS (SELECT np, pid, id FROM (
           |         SELECT n.np, s.pid, s.id, ROW_NUMBER() OVER (
           |           PARTITION BY n.np, s.pid ORDER BY s.sim DESC, s.id) AS rk
           |         FROM sc s JOIN cr ON cr.pid = s.pid AND cr.cell = s.cell
           |         CROSS JOIN np n WHERE cr.crk <= n.np) WHERE rk <= 10)
           |SELECT n.np AS nprobe,
           |  CAST(COUNT(a.id) AS BIGINT) AS hits,
           |  (1000000 * CAST(COUNT(a.id) AS BIGINT)) // 80 AS recall_ppm
           |FROM np n CROSS JOIN ex e2
           |LEFT JOIN ann a ON a.np = n.np AND a.pid = e2.pid AND a.id = e2.id
           |GROUP BY 1 ORDER BY nprobe""".stripMargin
      })
  )
}
