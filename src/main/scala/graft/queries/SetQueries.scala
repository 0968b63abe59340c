package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryRegistry, Tables}

/** Q29–Q31: global sort / top-k / set operations.
  *
  * q29 compiles to TakeOrderedAndProject (per-partition top-k + driver
  * merge of k·numPartitions rows) — no global sort even at 100 TB.
  */
object SetQueries extends QueryRegistry {

  def defs: Seq[QueryDef] = Seq(

    QueryDef("q29_topk",
      (s, dir) => Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"),
          // raw double (see q06 note): identical bits in both engines
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
            .as("charge"))
        .orderBy(col("charge").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber,
             |l_extendedprice*(1-l_discount)*(1+l_tax) AS charge
             |FROM lineitem ORDER BY charge DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    QueryDef("q30_union_all",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val f = o.filter(col("o_orderstatus") === "F").select("o_orderkey")
        val big = o.filter(col("o_totalprice") > 300000).select("o_orderkey")
        f.unionAll(big)
          .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
          .orderBy("o_orderkey").limit(500)
      },
      Some("""SELECT o_orderkey, COUNT(*) AS n FROM (
             |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
             |  UNION ALL
             |  SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
             |GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 500""".stripMargin)),

    QueryDef("q30_union_distinct",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val f = o.filter(col("o_orderstatus") === "F").select("o_orderkey")
        val big = o.filter(col("o_totalprice") > 300000).select("o_orderkey")
        f.union(big).distinct().agg(count(lit(1)).as("cnt"))
      },
      Some("""SELECT COUNT(*) AS cnt FROM (
             |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
             |  UNION
             |  SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)""".stripMargin)),

    QueryDef("q31_intersect",
      (s, dir) => {
        val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("k")).distinct()
        val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("k"))
        withOrders.intersect(rich).orderBy("k")
      },
      Some("""SELECT k FROM (
             |  SELECT DISTINCT o_custkey AS k FROM orders
             |  INTERSECT
             |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
             |ORDER BY k""".stripMargin)),

    QueryDef("q31_except",
      (s, dir) => {
        val withOrders = Tables.orders(s, dir).select(col("o_custkey").as("k")).distinct()
        val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("k"))
        withOrders.except(rich).orderBy("k")
      },
      Some("""SELECT k FROM (
             |  SELECT DISTINCT o_custkey AS k FROM orders
             |  EXCEPT
             |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
             |ORDER BY k""".stripMargin))
  )
}
