package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryRegistry, Tables}
import Qf._

/** Q38–Q42 + extensions: the LLM-training-data pipeline surface —
  * dedup (exact / normalized-hash / n-gram Jaccard), brute-force cosine
  * similarity search, rule-lexicon text classification, doc stats.
  *
  * Scale notes (100 TB):
  *  - exact/hash dedup is a hash shuffle on the digest — uniform by
  *    construction, no skew;
  *  - n-gram Jaccard is quadratic per candidate *bucket*, so the
  *    declared query bounds the probe set; the production path is
  *    MinHash-LSH banding (candidate generation by band-hash join)
  *    which keeps pair enumeration linear in bucket sizes;
  *  - brute-force cosine broadcasts the probe vector — one pass over
  *    the corpus, no shuffle at all; top-k via TakeOrderedAndProject.
  */
object PipelineQueries extends QueryRegistry {

  /** Text normalization shared by dedup ops: lowercase, strip
    * non-alphanumerics, collapse whitespace, trim. */
  private def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  private val sqlNormText =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** embedding as array<double> (promote before any accumulation). */
  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** AFINN-111 subset (Finn Årup Nielsen's public sentiment lexicon):
    * real words with their published integer valences, embedded as a
    * literal table and shared verbatim with the oracle's VALUES list. */
  private val Afinn: Seq[(String, Int)] = Seq(
    "good" -> 3, "great" -> 3, "excellent" -> 3, "amazing" -> 4,
    "awesome" -> 4, "fantastic" -> 4, "wonderful" -> 4, "love" -> 3,
    "loved" -> 3, "best" -> 3, "better" -> 2, "nice" -> 3, "happy" -> 3,
    "perfect" -> 3, "recommend" -> 2, "win" -> 4, "wow" -> 4, "fun" -> 4,
    "impressive" -> 3, "solid" -> 2, "superb" -> 5, "outstanding" -> 5,
    "brilliant" -> 4, "useful" -> 2,
    "bad" -> -3, "terrible" -> -3, "awful" -> -3, "horrible" -> -3,
    "hate" -> -3, "hated" -> -3, "worst" -> -3, "poor" -> -2,
    "disappointing" -> -2, "disappointed" -> -2, "broken" -> -1,
    "problem" -> -2, "problems" -> -2, "fail" -> -2, "failed" -> -2,
    "failure" -> -2, "wrong" -> -2, "sad" -> -2, "angry" -> -3,
    "waste" -> -1, "worse" -> -3, "useless" -> -2, "boring" -> -3,
    "annoying" -> -2, "frustrating" -> -2, "damn" -> -4)

  /** Embedded review-style sentences (AmazonReview semantics —
    * reference: AmazonReview.java:10-14): the synthetic corpus is
    * domain vocabulary with no sentiment words, so these rows are what
    * gives the classifier non-degenerate pos/neg mass. Shared verbatim
    * with the oracle. */
  private val SampleReviews: Seq[String] = Seq(
    "excellent product works great and the quality is amazing",
    "absolutely love it best purchase this year highly recommend",
    "solid build nice design and fun to use every day",
    "superb value outstanding battery life brilliant screen",
    "terrible experience the item arrived broken and support was awful",
    "worst purchase ever complete waste of money very disappointed",
    "horrible quality it failed after one week useless and frustrating",
    "the manual was boring but the device itself works fine",
    "shipping was on time and the box contained the item")

  /** Left fold dot-product of two double arrays; bit-identical to
    * DuckDB's list_dot_product (sequential double accumulation). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def defs: Seq[QueryDef] = Seq(

    QueryDef("q38_exact_dedup",
      (s, dir) => Tables.documents(s, dir)
        .select("lang", "text").distinct()
        .groupBy("lang").agg(count(lit(1)).as("n_unique"))
        .join(
          Tables.documents(s, dir).groupBy("lang").agg(count(lit(1)).as("n_docs")),
          "lang")
        .select("lang", "n_docs", "n_unique")
        .orderBy("lang"),
      Some("""SELECT d.lang, d.n_docs, u.n_unique FROM
             |(SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang) d
             |JOIN
             |(SELECT lang, COUNT(*) AS n_unique FROM
             |  (SELECT DISTINCT lang, text FROM documents) GROUP BY lang) u
             |USING (lang) ORDER BY lang""".stripMargin)),

    // Near-dedup by normalized-text digest. Duplicates are injected
    // (docs with doc_id<10 unioned twice) so the HAVING>1 set is
    // non-trivial at every scale factor.
    QueryDef("q39_near_dedup_hash",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val withDups = d.unionAll(d.filter(col("doc_id") < 10))
        withDups.select(md5(normText(col("text"))).as("h"))
          .groupBy("h").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .orderBy("h")
      },
      Some(s"""SELECT h, COUNT(*) AS n FROM (
              |  SELECT md5($sqlNormText) AS h FROM
              |  (SELECT text FROM documents
              |   UNION ALL SELECT text FROM documents WHERE doc_id < 10))
              |GROUP BY h HAVING COUNT(*) > 1 ORDER BY h""".stripMargin)),

    // Brute-force cosine top-k for probe vec_id=0. Probe is broadcast:
    // single scan, no shuffle; ORDER BY+LIMIT → TakeOrderedAndProject.
    QueryDef("q40_cosine_topk",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        val probe = broadcast(
          e.filter(col("vec_id") === 0).select(col("v").as("pv")))
        e.crossJoin(probe)
          .select(col("vec_id"),
            (dot(col("v"), col("pv")) /
              sqrt(dot(col("v"), col("v")) * dot(col("pv"), col("pv"))))
              .as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id,
             |list_dot_product(v, pv) / sqrt(list_dot_product(v, v) * list_dot_product(pv, pv)) AS sim
             |FROM e CROSS JOIN p
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Batched ANN: MANY probes answered in one corpus scan — the
    // serving shape (per-query scans don't amortize; a probe BATCH
    // broadcasts and every corpus partition scores all probes in one
    // pass). Per-probe top-3 goes through the rank-filter idiom, which
    // plans as WindowGroupLimit — never a full sort of probes×corpus.
    QueryDef("q146_batched_topk",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select(col("vec_id"), vecD(col("embedding")).as("v"))
        val probes = broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("v").as("pv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
        e.crossJoin(probes)
          .select(col("probe_id"), col("vec_id"),
            (dot(col("v"), col("pv")) /
              sqrt(dot(col("v"), col("v")) * dot(col("pv"), col("pv")))).as("sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3).drop("rn")
          .orderBy(col("probe_id"), col("sim").desc, col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
             |s AS (SELECT probe_id, vec_id,
             |        list_dot_product(v, pv)
             |          / sqrt(list_dot_product(v, v) * list_dot_product(pv, pv)) AS sim
             |      FROM e CROSS JOIN p)
             |SELECT probe_id, vec_id, sim FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
             |  FROM s)
             |WHERE rn <= 3 ORDER BY probe_id, sim DESC, vec_id""".stripMargin)),

    // Rule-lexicon polarity classification (AmazonReview semantics,
    // reference: AmazonReview.java:10-14) with a REAL lexicon: an
    // AFINN-111 subset scored per document as the valence sum of its
    // matched tokens. Corpus rows (no sentiment vocabulary → score 0 →
    // neu) union embedded review sentences (pos/neg mass). Shape:
    // explode → broadcast-join the ~50-word lexicon → per-doc sum —
    // the lexicon side is metadata-scale at any corpus size, and the
    // left join keeps zero-match docs in the denominator.
    QueryDef("q41_text_classify",
      (s, dir) => {
        import s.implicits._
        val lex = broadcast(Afinn.toDF("word", "valence"))
        val reviews = SampleReviews.zipWithIndex
          .map { case (t, i) => (1000000L + i, t) }.toDF("doc_id", "text")
        val corpus = Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .unionByName(reviews)
        corpus
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .join(lex, Seq("word"), "left")
          .groupBy("doc_id")
          .agg(sum(coalesce(col("valence"), lit(0))).as("score"))
          .select(when(col("score") > 0, "pos")
            .when(col("score") < 0, "neg").otherwise("neu").as("label"))
          .groupBy("label").agg(count(lit(1)).as("cnt"))
          .orderBy("label")
      },
      Some(s"""WITH lex(word, valence) AS (VALUES ${
                Afinn.map { case (w, v) => s"('$w', $v)" }.mkString(", ")
              }),
             |corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT * FROM (VALUES ${
                SampleReviews.zipWithIndex
                  .map { case (t, i) => s"(${1000000L + i}, '$t')" }.mkString(", ")
              }) v(doc_id, text)),
             |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus),
             |scored AS (
             |  SELECT t.doc_id, SUM(COALESCE(l.valence, 0)) AS score
             |  FROM toks t LEFT JOIN lex l USING (word) GROUP BY t.doc_id)
             |SELECT CASE WHEN score > 0 THEN 'pos' WHEN score < 0 THEN 'neg' ELSE 'neu' END AS label,
             |  COUNT(*) AS cnt
             |FROM scored GROUP BY 1 ORDER BY label""".stripMargin)),

    QueryDef("q42_doc_stats",
      (s, dir) => Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n"),
          sum("n_chars").cast("bigint").as("sum_chars"),
          davg(col("n_chars")).as("avg_chars"))
        .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS n,
              |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
              |${sqlDavg("n_chars")} AS avg_chars
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Dedup with survivorship: one canonical row (lowest doc_id) per
    // normalized-text group — the materialized output of a dedup
    // pipeline, not just the statistics. Window over the digest key
    // shuffles once; at corpus scale this is the same plan shape as
    // q39's counting pass.
    QueryDef("q87_dedup_survivorship",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val withDups = d.unionAll(
          d.filter(col("doc_id") < 10).withColumn("doc_id", col("doc_id") + 100000))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(normText(col("text")))).orderBy(col("doc_id"))
        withDups
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("lang").agg(count(lit(1)).as("n_canonical"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, COUNT(*) AS n_canonical FROM (
              |  SELECT lang, row_number() OVER (PARTITION BY md5($sqlNormText) ORDER BY doc_id) AS rn
              |  FROM (SELECT doc_id, lang, text FROM documents
              |        UNION ALL SELECT doc_id + 100000 AS doc_id, lang, text FROM documents WHERE doc_id < 10))
              |WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin)),

    // Edit-distance near-dup scoring over a bounded probe set (the
    // character-level complement to token-level Jaccard; Levenshtein
    // is exact so any engine agrees).
    QueryDef("q85_levenshtein",
      (s, dir) => {
        val d = Tables.documents(s, dir).filter(col("doc_id") < 15)
          .select(col("doc_id"), substring(col("text"), 1, 80).as("head"))
        val a = d.select(col("doc_id").as("a_id"), col("head").as("ha"))
        val b = d.select(col("doc_id").as("b_id"), col("head").as("hb"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            levenshtein(col("ha"), col("hb")).cast("int").as("dist"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (SELECT doc_id, substr(text, 1, 80) AS head FROM documents WHERE doc_id < 15)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(levenshtein(a.head, b.head) AS INT) AS dist
             |FROM d a JOIN d b ON a.doc_id < b.doc_id
             |ORDER BY a_id, b_id""".stripMargin)),

    // n-gram (3-token shingle) Jaccard similarity over a bounded probe
    // set of document pairs — the exact-similarity building block that
    // MinHash-LSH approximates at corpus scale.
    QueryDef("q54_ngram_jaccard",
      (s, dir) => {
        def shingles(c: Column): Column = {
          val toks = split(c, " ")
          when(size(toks) >= 3,
            array_distinct(transform(sequence(lit(0), size(toks) - 3),
              i => concat_ws(" ", slice(toks, i + 1, lit(3))))))
            .otherwise(array().cast("array<string>"))
        }
        val d = Tables.documents(s, dir).filter(col("doc_id") < 20)
          .select(col("doc_id"), shingles(col("text")).as("sh"))
        val a = d.select(col("doc_id").as("a_id"), col("sh").as("sa"))
        val b = d.select(col("doc_id").as("b_id"), col("sh").as("sb"))
        a.join(b, col("a_id") < col("b_id"))
          .filter(size(array_union(col("sa"), col("sb"))) > 0)
          .select(col("a_id"), col("b_id"),
            (size(array_intersect(col("sa"), col("sb"))) /
              size(array_union(col("sa"), col("sb")))
              .cast("double")).as("jaccard"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN len(string_split(text,' ')) >= 3 THEN
             |      list_distinct(list_transform(
             |        generate_series(1, len(string_split(text,' ')) - 2),
             |        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             |    ELSE [] END AS sh
             |  FROM documents WHERE doc_id < 20)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
             |FROM d a JOIN d b ON a.doc_id < b.doc_id
             |WHERE len(list_distinct(list_concat(a.sh, b.sh))) > 0
             |ORDER BY a_id, b_id""".stripMargin))
  )
}
