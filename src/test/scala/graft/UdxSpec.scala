package graft

import org.apache.spark.sql.functions._
import graft.functions.MomentsBuf

/** Q51–Q53 self-consistency: the UDF / Aggregator / Generator paths
  * must agree with their declarative formulations. */
class UdxSpec extends SparkTestBase {

  test("q51 UDF cosine equals the HOF expression bit-for-bit") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = e.filter(col("vec_id") < 5).select(col("vec_id").as("a_id"), col("v").as("va"))
    val b = e.filter(col("vec_id") < 20).select(col("vec_id").as("b_id"), col("v").as("vb"))
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, z) => acc + z)
    val hof = a.crossJoin(b).select(col("a_id"), col("b_id"),
      (hofDot(col("va"), col("vb")) /
        sqrt(hofDot(col("va"), col("va")) * hofDot(col("vb"), col("vb")))).as("sim"))
      .orderBy("a_id", "b_id").collect().map(_.getAs[Double]("sim"))
    val viaUdf = run("q51_udf_cosine").collect().map(_.getAs[Double]("sim"))
    assert(hof.length == viaUdf.length && hof.length == 100)
    hof.zip(viaUdf).foreach { case (x, y) => assert(x == y, s"$x != $y") }
  }

  test("q52 Aggregator moments reproduce var_samp within tolerance") {
    val got = run("q52_typed_aggregator").collect()
      .map(r => r.getString(0) -> MomentsBuf(r.getAs[Long]("n"), r.getAs[Long]("s"), r.getAs[Long]("ss")))
      .toMap
    val expect = Tables.events(spark, sf)
      .groupBy("event_type").agg(var_samp(col("value")).as("v"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getAs[Double]("v"), r.getAs[Long]("n"))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, buf) =>
      val (vExp, nExp) = expect(k)
      assert(buf.n == nExp)
      // cent-scaled variance ≈ 1e4 × raw variance (quantization ±0.005)
      val vGot = buf.variance / 1e4
      assert(math.abs(vGot - vExp) / math.max(vExp, 1e-9) < 1e-3,
        s"$k: got $vGot expected $vExp")
    }
  }

  test("q53 custom Generator equals explode(split(...))") {
    val viaGen = run("q53_generator_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val viaExplode = run("q37_explode_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(viaGen.sameElements(viaExplode))
  }

  test("tokenizer generator keeps empty tokens like split does") {
    import spark.implicits._
    graft.functions.TokenizeGenerator.register(spark)
    val df = Seq("a  b", "", "x ").toDF("text")
    val gen = df.selectExpr("graft_tokenize(text)").collect().map(_.getString(0))
    val ref = df.select(explode(split(col("text"), " "))).collect().map(_.getString(0))
    assert(gen.sameElements(ref))
  }
}
