package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.TextAnalysis

/** Property-based invariants (SURVEY.md §5 test plan): CSV
  * quote/unquote round-trip under the reference's parse rules,
  * conservation of ingest counts, dedup idempotence, fingerprint
  * determinism over generated inputs. */
class PropertySpec extends SparkTestBase {

  private lazy val csvDir = tempDir("graft_prop")

  /** Deterministic property driver (no scalatest-scalacheck bridge in
    * the offline cache): sample `gen` across fixed seeds. */
  private def forAllG[A](gen: Gen[A], trials: Int = 20)(f: A => Unit): Unit =
    (0 until trials).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  // field text without quotes/newlines (the reference's parser doesn't
  // handle escaped quotes — AmazonReviewProducer.java:143-154)
  private val fieldGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(','), Gen.const(' ')))
      .map(_.mkString).suchThat(s => !s.contains("\"") && !s.contains("\n"))

  private def quote(f: String): String =
    if (f.contains(",")) "\"" + f + "\"" else f

  test("CSV quoting round-trips through the Spark parser (A2 rules)") {
    forAllG(Gen.listOfN(20, Gen.zip(fieldGen, fieldGen, fieldGen))) {
      rows: List[(String, String, String)] =>
      if (rows.nonEmpty) {
        val file = Files.createTempFile(csvDir, "graft_prop", ".csv")
        val lines = rows.map { case (a, b, c) => s"${quote(a)},${quote(b)},${quote(c)}" }
        Files.writeString(file, lines.mkString("\n"))
        val parsed = spark.read
          .schema("polarity STRING, title STRING, text STRING")
          .option("quote", "\"")
          .csv(file.toString)
          .collect()
          .map(r => (Option(r.getString(0)).getOrElse(""),
            Option(r.getString(1)).getOrElse(""),
            Option(r.getString(2)).getOrElse("")))
          .toSet
        // Spark's CSV parser trims nothing; quoted commas survive
        val expect = rows.map { case (a, b, c) => (a, b, c) }.toSet
        assert(parsed == expect)
        Files.delete(file)
      }
    }
  }

  test("dedup idempotence: distinct∘distinct = distinct over generated corpora") {
    import spark.implicits._
    forAllG(Gen.listOfN(50, Gen.oneOf("a b c", "a b", "x y z", "a b c", "q")), trials = 5) {
      texts: List[String] =>
      if (texts.nonEmpty) {
        val df = texts.toDF("text")
        val once = df.distinct().count()
        assert(df.distinct().distinct().count() == once)
        // distinct count equals the set size
        assert(once == texts.toSet.size)
      }
    }
  }

  test("fingerprint is a function: equal text ⇔ equal fingerprint on generated docs") {
    import spark.implicits._
    forAllG(Gen.listOfN(30, Gen.alphaNumStr.suchThat(_.nonEmpty)), trials = 5) { texts: List[String] =>
      if (texts.nonEmpty) {
        val fps = texts.toDF("text")
          .select(col("text"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        val byText = fps.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
        // determinism: same text always hashes identically
        assert(byText.values.forall(_.length == 1))
      }
    }
  }

  test("generator conservation: n produced rows → n consumed, positions 0..n-1") {
    forAllG(Gen.choose(1L, 2000L), trials = 8) { n: Long =>
      val df = graft.ingest.ProduceJob.personProjection(
        spark.range(n).toDF("cnt"), "cnt", "t", 3)
      val agg = df.agg(count(lit(1)), min("ba"), max("ba"), countDistinct("ba")).head()
      assert(agg.getLong(0) == n && agg.getLong(1) == 0L &&
        agg.getLong(2) == n - 1 && agg.getLong(3) == n)
    }
  }

  test("MinHash candidates: est_jaccard in [0,1], exact duplicates score 1.0") {
    import spark.implicits._
    // generated docs plus forced duplicates of the first few
    val docGen = Gen.listOfN(6, Gen.const("w")).flatMap(_ =>
      Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
        .map(_.mkString(" ")))
    forAllG(Gen.listOfN(15, docGen), trials = 3) { texts: List[String] =>
      if (texts.nonEmpty) {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
          texts.take(3).zipWithIndex.map { case (t, i) => (1000L + i, t) }
        val pairs = graft.operators.MinHashLSH
          .candidatePairs(docs.toDF("id", "text"), "id", "text")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(pairs.forall { case (_, _, j) => j >= 0.0 && j <= 1.0 })
        // each injected duplicate pair must surface with est = 1.0
        (0 until 3).foreach { i =>
          assert(pairs.exists { case (a, b, j) =>
            a == i.toLong && b == 1000L + i && j == 1.0 })
        }
      }
    }
  }

  test("merge: committed state equals the relational spec for random upserts") {
    import graft.ingest.{ProduceJob, Snapshots}
    // spec: result == (target anti-join source on key) ∪ source
    val srcGen = Gen.zip(Gen.choose(0L, 400L), Gen.choose(100L, 700L))
      .suchThat { case (lo, hi) => hi > lo }
    forAllG(srcGen, trials = 3) { case (lo, hi) =>
      val root = tempDir("graft_prop_merge").toString
      ProduceJob.produceBatch(spark, root, "pm", topics = 1, numMessages = 300)
      val source = ProduceJob.personProjection(
        spark.range(lo, hi).toDF("cnt"), "cnt", "pm", 1)
        .withColumn("name", lit("upd"))
      val expected = ProduceJob.personProjection(
        spark.range(0, 300).toDF("cnt"), "cnt", "pm", 1)
        .join(source.select("ba"), Seq("ba"), "left_anti")
        .unionByName(source)
      Snapshots.merge(spark, root, "pm", source, Seq("ba"))
      val cols = Seq("ba", "name", "age", "address", "gender", "score", "key", "topic")
      val got = Snapshots.read(spark, root, "pm").select(cols.map(col): _*)
      val exp = expected.select(cols.map(col): _*)
      assert(got.count() == exp.count())
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
    }
  }

  test("components: labels are idempotent (running on the result changes nothing)") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
      .map(_.filter { case (a, b) => a != b })
    forAllG(edgeGen, trials = 5) { edges: List[(Long, Long)] =>
      if (edges.nonEmpty) {
        val pairs = edges.toDF("a_id", "b_id")
        val comp = graft.operators.DedupComponents.components(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // every label is itself a member's id and the minimum of its class
        val classes = comp.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
        classes.foreach { case (label, members) =>
          assert(members.min == label)
        }
        // endpoints of every edge share a label (connectivity respected)
        edges.foreach { case (a, b) => assert(comp(a) == comp(b)) }
      }
    }
  }

  test("msumWide stays exact where the int64 micros sum wraps (sf>=1000 headroom)") {
    import org.apache.spark.sql.functions._
    // 1000 rows of ~5e12 units: Σ micros ≈ 5e21 ≫ 2^63 ≈ 9.2e18 — the
    // plain msum's LONG accumulator wraps; the wide split must not.
    val df = spark.range(0, 1000)
      .select((lit(5.0e12) + col("id").cast("double")).as("x"))
    val wide = df.agg(graft.queries.Qf.msumWide(col("x"))).head().getDouble(0)
    // ANSI mode (Spark 4 default): the plain micros sum overflows its
    // LONG accumulator and the job FAILS — loud, but still a dead end
    // at sf≥1000; the wide split is the fix, not a bigger error message
    val plainFails = intercept[Exception] {
      df.agg(graft.queries.Qf.msum(col("x"))).head()
    }
    assert((plainFails.getMessage != null && plainFails.getMessage.contains("overflow")) ||
      Option(plainFails.getCause).exists(c => Option(c.getMessage).exists(_.contains("overflow"))))
    // expected: replicate the declared arithmetic exactly (per-row
    // floor to micros, two's-complement >>20 / &mask split, LONG sums,
    // double recombination)
    var hi = 0L
    var lo = 0L
    (0 until 1000).foreach { i =>
      val m = math.floor((5.0e12 + i) * 1e6 + 0.5).toLong
      hi += (m >> 20); lo += (m & 1048575L)
    }
    val expected = (hi.toDouble * 1048576.0 + lo.toDouble) / 1e6
    assert(wide == expected)
    // sanity on magnitude: Σ units ≈ 5.0e15 + 499500
    assert(math.abs(wide - (5.0e15 + 499500.0)) < 1e6)
  }

  test("msumWide handles negative values exactly (two's-complement word split)") {
    import org.apache.spark.sql.functions._
    // alternating signs with large magnitudes: negative micros shift
    // arithmetically (>>20 keeps the sign) while the mask word stays in
    // [0, 2^20) — the split must reassemble to the exact signed sum
    val df = spark.range(0, 10000)
      .select((when(col("id") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)) *
        (lit(5.0e12) + col("id").cast("double"))).as("x"))
    val wide = df.agg(graft.queries.Qf.msumWide(col("x"))).head().getDouble(0)
    var hi = 0L
    var lo = 0L
    (0 until 10000).foreach { i =>
      val sign = if (i % 2 == 0) 1.0 else -1.0
      val m = math.floor(sign * (5.0e12 + i) * 1e6 + 0.5).toLong
      hi += (m >> 20); lo += (m & 1048575L)
    }
    val expected = (hi.toDouble * 1048576.0 + lo.toDouble) / 1e6
    assert(wide == expected)
    // magnitude sanity: pairs cancel to −1 each → Σ units ≈ −5000
    assert(math.abs(wide - -5000.0) < 1.0)
  }
}
