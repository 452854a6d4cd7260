package graft.rel

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}
import Tables.{liKey, liKeySql}

/** SURVEY.md §2.6 (sort/limit/top-k) and §2.7 (set operations).
  *
  * `limit_n` must plan as TakeOrderedAndProject (per-partition top-k, no
  * global sort) — asserted in PlanShapeSpec. `topk_per_group` is the
  * window-rank formulation, the scalable per-group top-k (single shuffle
  * on the group key, rank pruned before materialization).
  */
object SortSet {

  def defs: Seq[(String, Q)] = Seq(
    "sort_multi" -> Q(
      s"""SELECT $liKeySql, l_returnflag, nullif(l_linestatus, 'O') AS status_or_null
         |FROM lineitem
         |ORDER BY l_returnflag DESC, nullif(l_linestatus, 'O') ASC NULLS LAST, $liKeySql""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("status_or_null", nullif(col("l_linestatus"), lit("O")))
        .select((liKey.map(col) ++ Seq(col("l_returnflag"), col("status_or_null"))): _*)
        .orderBy(col("l_returnflag").desc +: col("status_or_null").asc_nulls_last +: liKey.map(col): _*)
    },

    "limit_n" -> Q(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    "topk_per_group" -> Q(
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
        .orderBy("o_custkey", "rk")
    },

    // the same top-3-per-customer result through the custom two-phase
    // bounded-heap operator (plans.TopK: LogicalPlan + Strategy +
    // SparkPlan) — shuffles ≤ k rows per (partition, group) instead of
    // every row, and never sorts full partitions. Same oracle semantics
    // as topk_per_group (sans the rank column, which TopK doesn't emit).
    "topk_native" -> Q(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      graft.plans.TopK.topKPerGroup(
        Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
        .orderBy("o_custkey", "o_orderkey")
    },

    // GLOBAL top-k through the native operator (empty PARTITION BY →
    // AllTuples plan, r3): partial heaps prune per partition, the final
    // single-partition pass sees at most k rows per upstream partition —
    // never a global sort of the full table.
    "topk_global" -> Q(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      graft.plans.TopK.topKPerGroup(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        Nil, Seq(("o_totalprice", false), ("o_orderkey", true)), 10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    },

    // the WINDOW spelling with the rank dropped, under the TopKRewriteRule
    // optimizer rule — the user writes row_number<=k, the plan that runs
    // is the native bounded-heap TopK (PlanShapeSpec asserts no Window
    // survives). Same oracle as topk_native.
    "topk_rewrite" -> Q(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 3)
        .drop("rk")
        .orderBy("o_custkey", "o_orderkey")
    },

    "set_union_all" -> Q(
      """SELECT c_custkey, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey, c_acctbal""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey", "c_acctbal")
      val b = c.filter(col("c_acctbal") > 5000).select("c_custkey", "c_acctbal")
      a.union(b).orderBy("c_custkey", "c_acctbal")
    },

    "set_union_distinct" -> Q(
      """SELECT c_custkey, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey, c_acctbal""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey", "c_acctbal")
      val b = c.filter(col("c_acctbal") > 5000).select("c_custkey", "c_acctbal")
      a.union(b).distinct().orderBy("c_custkey", "c_acctbal")
    },

    "set_intersect" -> Q(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey")))
        .orderBy("nationkey")
    },

    // o_custkey is not unique, but it is the SOLE projected column, so
    // tied rows are bit-identical and the single-key ORDER BY stays
    // deterministic; project more columns here and you must extend the
    // sort key (Q.scala determinism contract)
    "set_intersect_all" -> Q(
      """SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_totalprice") > 100000).select("o_custkey")
        .intersectAll(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },

    "set_except_all" -> Q(
      """SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_totalprice") > 100000).select("o_custkey")
        .exceptAll(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },

    "set_except" -> Q(
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey")))
        .orderBy("nationkey")
    }
  )
}
