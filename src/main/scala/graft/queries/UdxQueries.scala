package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryRegistry, Tables}
import graft.functions.{EventMoments, TokenizeGenerator}

/** Q51–Q53: user-defined function surface — scalar UDF, typed
  * Aggregator UDAF, custom Catalyst Generator (UDTF).
  *
  * The cosine UDF accumulates left-to-right exactly like the Q40 HOF
  * expression and DuckDB's list_dot_product, so all three formulations
  * are bit-identical.
  */
object UdxQueries extends QueryRegistry {

  /** Scalar cosine similarity; loop order matches the declarative
    * `aggregate(zip_with(...))` fold. */
  private val cosineUdf = udf { (a: Seq[Double], b: Seq[Double]) =>
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef("q51_udf_cosine",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        val a = e.filter(col("vec_id") < 5).select(col("vec_id").as("a_id"), col("v").as("va"))
        val b = e.filter(col("vec_id") < 20).select(col("vec_id").as("b_id"), col("v").as("vb"))
        a.crossJoin(broadcast(b))
          .select(col("a_id"), col("b_id"),
            cosineUdf(col("va"), col("vb")).as("sim"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS sim
             |FROM e a CROSS JOIN e b
             |WHERE a.vec_id < 5 AND b.vec_id < 20
             |ORDER BY a_id, b_id""".stripMargin)),

    // Typed Aggregator over cent-scaled values: exact integer moments
    // (n, s, ss) per event_type; variance derives in tests and matches
    // var_samp. Exact Longs → shuffle-order independent.
    QueryDef("q52_typed_aggregator",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.events(s, dir)
          .select(col("event_type"), round(col("value") * 100).cast("long").as("v"))
          .as[(String, Long)]
        ds.groupByKey(_._1)
          .agg(EventMoments.toColumn.name("m"))
          .toDF("event_type", "m")
          .select(col("event_type"), col("m.n").as("n"), col("m.s").as("s"), col("m.ss").as("ss"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v*v) AS BIGINT) AS ss
             |FROM (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Custom Generator (registered in the function registry) must agree
    // with Q37's explode(split(...)) — same oracle.
    QueryDef("q53_generator_tokens",
      (s, dir) => {
        TokenizeGenerator.register(s)
        Tables.documents(s, dir)
          .select(expr("graft_tokenize(text)"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token")).limit(20)
      },
      Some("""SELECT token, COUNT(*) AS cnt FROM (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin))
  )
}
