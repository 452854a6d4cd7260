package graft.rel

import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}

/** SURVEY.md §2.12 — the user-extension surface: scalar UDF, typed
  * custom aggregate (Aggregator → udaf), table-generating explode.
  *
  * `udf_scalar` documents the cost of opaque UDFs (no codegen, no
  * pushdown through them) — the library prefers builtins/Expressions
  * everywhere else; this entry exists because the API surface must.
  */
object Udfs {

  def defs: Seq[(String, Q)] = Seq(
    "udf_scalar" -> Q(
      """SELECT c_custkey, c_acctbal,
        |  least(greatest(c_acctbal, 0.0), 5000.0) AS clamped
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val clamp = udf((x: Double, lo: Double, hi: Double) => math.min(math.max(x, lo), hi))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"),
          clamp(col("c_acctbal"), lit(0.0), lit(5000.0)).as("clamped"))
        .orderBy("c_custkey")
    },

    "udaf_geomean" -> Q(
      """SELECT l_returnflag, round(exp(avg(ln(l_extendedprice))), 6) AS geomean
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val geomean = udaf(graft.ext.Aggregators.GeoMean)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(geomean(col("l_extendedprice")), 6).as("geomean"))
        .orderBy("l_returnflag")
    },

    "udtf_generator" -> Q(
      """SELECT o_orderkey, u.pos - 1 AS pos, u.v AS part FROM (
        |  SELECT o_orderkey,
        |    unnest(list_transform(generate_series(1, len(sp)), i -> {'pos': i, 'v': sp[i]})) AS u
        |  FROM (SELECT o_orderkey, string_split(o_orderpriority, '-') AS sp FROM orders))
        |ORDER BY o_orderkey, pos""".stripMargin) { (s, d) =>
      // 1 row → n rows through the stock Generator (posexplode →
      // GenerateExec); a custom Generator plugs in at the same node
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          posexplode(split(col("o_orderpriority"), "-")).as(Seq("pos", "part")))
        .orderBy("o_orderkey", "pos")
    }
  )
}
