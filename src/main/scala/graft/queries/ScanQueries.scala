package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryRegistry, Tables}

/** Q01–Q08: scans, sources, sinks, projection, predicates.
  *
  * Q02 replays the reference's synthetic generator semantics
  * (reference: PerformanceProducer.java:184-186 — name/"hangc",
  * age=(18+cnt)%100, score=(59.9+cnt)%150, ba=cnt); Q03 replays the
  * quoted-CSV review parse (reference: AmazonReviewProducer.java:143-154).
  */
object ScanQueries extends QueryRegistry {

  /** Fixture shipped with the repo (see fixtures/): quoted-CSV reviews. */
  val ReviewsCsv = "/root/repo/fixtures/reviews.csv"

  def defs: Seq[QueryDef] = Seq(

    QueryDef("q01_scan_count",
      (s, dir) => Tables.lineitem(s, dir).agg(count(lit(1)).as("cnt")),
      Some("SELECT COUNT(*) AS cnt FROM lineitem")),

    QueryDef("q02_generator",
      (s, dir) => s.range(0, 1000).toDF("id").select(
        col("id"),
        lit("hangc").as("name"),
        ((lit(18) + col("id")) % 100).cast("int").as("age"),
        lit("GuangZhou").as("address"),
        lit(true).as("gender"),
        // Raw double (never DECIMAL in output — round-1 gate lesson):
        // both engines evaluate the identical fmod over identical
        // doubles → bit-identical.
        ((lit(59.9) + col("id")) % lit(150.0)).as("score"),
        col("id").as("ba")
      ).orderBy("id"),
      Some("""SELECT id, 'hangc' AS name, CAST((18+id)%100 AS INT) AS age,
             |'GuangZhou' AS address, TRUE AS gender,
             |(CAST(59.9 AS DOUBLE)+id)%CAST(150.0 AS DOUBLE) AS score, id AS ba
             |FROM range(0,1000) t(id) ORDER BY id""".stripMargin)),

    QueryDef("q03_csv_parse",
      (s, _) => s.read
        .schema("polarity STRING, title STRING, text STRING")
        .option("quote", "\"")
        .csv(ReviewsCsv)
        .groupBy("polarity").agg(count(lit(1)).as("cnt"))
        .orderBy("polarity"),
      Some(s"""SELECT polarity, COUNT(*) AS cnt FROM read_csv('$ReviewsCsv',
              |header=false, quote='"',
              |columns={'polarity':'VARCHAR','title':'VARCHAR','text':'VARCHAR'})
              |GROUP BY polarity ORDER BY polarity""".stripMargin)),

    QueryDef("q04_parquet_roundtrip",
      (s, dir) => {
        val tmp = s"/tmp/graft/q04_roundtrip"
        Tables.orders(s, dir).write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).agg(
          count(lit(1)).as("cnt"),
          sum("o_orderkey").cast("bigint").as("sum_key"))
      },
      Some("SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key FROM orders")),

    QueryDef("q05_json_extract",
      (s, dir) => Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k")
      ).orderBy("event_id").limit(100),
      Some("""SELECT event_id, CAST(json_extract_string(props,'$.k') AS INT) AS k
             |FROM events ORDER BY event_id LIMIT 100""".stripMargin)),

    QueryDef("q06_projection",
      (s, dir) => Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        // Raw double, no decimal downcast: both engines evaluate the
        // identical expression over identical inputs → bit-identical.
        // (Round 1 proved DECIMAL-typed *output* columns hash-mismatch
        // in the driver's gate across the board — see Qf's object doc.)
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .as("charge")
      ).orderBy("l_orderkey", "l_linenumber", "charge").limit(500),
      Some("""SELECT l_orderkey, l_linenumber,
             |l_extendedprice*(1-l_discount)*(1+l_tax) AS charge
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, charge LIMIT 500""".stripMargin)),

    QueryDef("q07_predicates",
      (s, dir) => Tables.orders(s, dir).filter(
        col("o_orderstatus").isin("F", "O") &&
        col("o_totalprice").between(1000, 300000) &&
        (col("o_orderpriority").like("1-%") || col("o_orderpriority").like("5-%")) &&
        col("o_custkey").isNotNull
      ).agg(count(lit(1)).as("cnt")),
      Some("""SELECT COUNT(*) AS cnt FROM orders
             |WHERE o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 300000
             |AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '5-%')
             |AND o_custkey IS NOT NULL""".stripMargin)),

    // A3/A13 wire-format parity: the reference publishes Avro binary
    // (Schema.AVRO(Person.class)); this round-trips the A1 generator
    // through the real Avro binary codec (ingest.AvroWire) and
    // aggregates the decoded rows — the oracle replays the generator
    // arithmetic directly, so any codec corruption breaks the hash.
    QueryDef("q97_avro_roundtrip",
      (s, _) => {
        import s.implicits._
        val persons = s.range(0, 1000).map(i => graft.model.Person(
          "hangc", ((18 + i) % 100).toInt, "GuangZhou", gender = true,
          (59.9 + i) % 150.0, i))
        val decoded = graft.ingest.AvroWire.decodePersons(
          graft.ingest.AvroWire.encodePersons(persons).map(_._2))
        decoded.toDF().agg(
          count(lit(1)).as("cnt"),
          sum("ba").cast("bigint").as("sum_ba"),
          sum("age").cast("bigint").as("sum_age"),
          min("name").as("min_name"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(id) AS BIGINT) AS sum_ba,
             |CAST(SUM((18+id)%100) AS BIGINT) AS sum_age,
             |MIN('hangc') AS min_name FROM range(0,1000) t(id)""".stripMargin)),

    // Registry-mediated schema evolution (reference:
    // UrsaKafkaProducerOnCloud.java:39-41): a MIXED stream — even rows
    // written under Student v1, odd rows under v2 (adds email/grade
    // with defaults) — decoded BOTH ways. Reader v2 fills defaults for
    // v1 bodies (email null, grade 0); reader v1 resolves v2's added
    // fields away, so old consumers keep working. The oracle replays
    // the generator arithmetic for both reader views; any resolution
    // fault (wrong defaults, misaligned fields) breaks the hash.
    QueryDef("q191_avro_schema_evolution",
      (s, _) => {
        import s.implicits._
        val v1 = graft.ingest.AvroWire.encodeStudents(
          s.range(0, 1000).filter(_ % 2 == 0).map(i => graft.model.Student(
            "s" + (i % 7), ((18 + i) % 60).toInt, "p" + (i % 3), "addr" + (i % 5), i)))
        val v2 = graft.ingest.AvroWire.encodeStudentsV2(
          s.range(0, 1000).filter(_ % 2 == 1).map(i => graft.model.StudentV2(
            "s" + (i % 7), ((18 + i) % 60).toInt, "p" + (i % 3), "addr" + (i % 5), i,
            Some("u" + i + "@x"), (i % 5).toInt)))
        val mixed = v1.unionAll(v2)
        val asV2 = graft.ingest.AvroWire.decodeStudentsAsV2(mixed).toDF()
        val asV1 = graft.ingest.AvroWire.decodeStudentsAsV1(mixed).toDF()
        asV2.agg(
          count(lit(1)).as("cnt"),
          sum("number").cast("bigint").as("sum_number"),
          count(when(col("email").isNull, 1)).as("v1_defaulted"),
          sum("grade").cast("bigint").as("sum_grade"),
          min("email").as("min_email"))
          .crossJoin(asV1.agg(
            count(lit(1)).as("cnt_v1reader"),
            sum("age").cast("bigint").as("sum_age")))
      },
      Some("""SELECT COUNT(*) AS cnt,
             |  CAST(SUM(id) AS BIGINT) AS sum_number,
             |  COUNT(CASE WHEN id % 2 = 0 THEN 1 END) AS v1_defaulted,
             |  CAST(SUM(CASE WHEN id % 2 = 1 THEN id % 5 ELSE 0 END) AS BIGINT) AS sum_grade,
             |  MIN(CASE WHEN id % 2 = 1 THEN 'u' || CAST(id AS VARCHAR) || '@x' END) AS min_email,
             |  COUNT(*) AS cnt_v1reader,
             |  CAST(SUM((18 + id) % 60) AS BIGINT) AS sum_age
             |FROM range(0,1000) t(id)""".stripMargin)),

    // JSON-lines source: doubles survive the text round-trip exactly
    // (shortest-representation printing), proven through the cents sum.
    QueryDef("q125_json_source",
      (s, dir) => {
        val tmp = "/tmp/graft/q125_json"
        Tables.orders(s, dir).filter(col("o_orderkey") < 1000)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("overwrite").json(tmp)
        s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
          .json(tmp)
          .agg(count(lit(1)).as("cnt"),
            sum("o_orderkey").cast("bigint").as("sum_key"),
            min("o_orderstatus").as("min_status"),
            sum(round(col("o_totalprice") * 100).cast("long")).cast("bigint").as("cents"))
      },
      Some("""SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
             |MIN(o_orderstatus) AS min_status,
             |CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders WHERE o_orderkey < 1000""".stripMargin)),

    // ORC round-trip: the other columnar format Spark ships natively.
    QueryDef("q126_orc_roundtrip",
      (s, dir) => {
        val tmp = "/tmp/graft/q126_orc"
        Tables.lineitem(s, dir).filter(col("l_orderkey") < 2000)
          .select("l_orderkey", "l_quantity", "l_extendedprice")
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp).agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).cast("bigint").as("price_cents"))
      },
      Some("""SELECT COUNT(*) AS cnt,
             |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
             |FROM lineitem WHERE l_orderkey < 2000""".stripMargin)),

    QueryDef("q08_case_when",
      (s, dir) => Tables.orders(s, dir).select(
        col("o_orderkey"),
        when(col("o_totalprice") > 250000, "big")
          .when(col("o_totalprice") > 50000, "mid")
          .otherwise("small").as("bucket")
      ).orderBy("o_orderkey").limit(500),
      Some("""SELECT o_orderkey,
             |CASE WHEN o_totalprice > 250000 THEN 'big'
             |     WHEN o_totalprice > 50000 THEN 'mid'
             |     ELSE 'small' END AS bucket
             |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin))
  )
}
