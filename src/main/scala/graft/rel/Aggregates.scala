package graft.rel

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Det, Q, Tables}
import Det.{dsum, dsumSql}

/** SURVEY.md §2.4 — aggregation (the zonal-stats kernel family).
  *
  * All grouped aggregates run as two-phase HashAggregate (partial per
  * partition, shuffle carries partials, final merge) — the Raptor-style
  * zonal aggregation posture. Money/double sums use the DECIMAL(18,2)
  * pattern from [[graft.core.Det]] for cross-engine bit-equality.
  */
object Aggregates {

  def defs: Seq[(String, Q)] = Seq(
    "agg_basic" -> Q(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_price,
         |  (${dsumSql("l_quantity")} / count(*)) AS avg_qty,
         |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // bitwise aggregate family (flag-mask folding): bit_and/or/xor are
    // commutative+associative, so the two-phase partial/final shape is
    // exact at any partitioning. greatest/least widen to int64 in
    // DuckDB → explicit BIGINT casts keep schemas aligned.
    "agg_bitwise" -> Q(
      """SELECT l_returnflag,
        |  CAST(bit_and(l_linenumber) AS BIGINT) AS flags_and,
        |  CAST(bit_or(l_linenumber) AS BIGINT) AS flags_or,
        |  CAST(bit_xor(l_linenumber) AS BIGINT) AS flags_xor
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(bit_and(col("l_linenumber")).cast("long").as("flags_and"),
          bit_or(col("l_linenumber")).cast("long").as("flags_or"),
          bit_xor(col("l_linenumber")).cast("long").as("flags_xor"))
        .orderBy("l_returnflag")
    },

    // order-independent table checksum (the data-validation staple for
    // comparing a table across engines/migrations): sum of per-row
    // engine-portable poly_hash values over the key columns, mod a
    // prime. Commutative, so partition order never matters; decimal sum
    // so the checksum cannot overflow at any row count.
    "agg_checksum" -> Q(
      s"""WITH r AS (SELECT ${graft.llm.Dedup.polyHashSql("rs")} AS h FROM
         |  (SELECT concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber) AS rs
         |   FROM lineitem))
         |SELECT count(*) AS n_rows,
         |  CAST(SUM(h) % 1000000007 AS BIGINT) AS checksum FROM r""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(concat_ws("|", col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_linenumber")).as("rs"))
        .select(expr("poly_hash(rs)").as("h"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("h").cast(DecimalType(38, 0))) % 1000000007L)
            .cast("long").as("checksum"))
    },

    // most-frequent value per group, spelled as count + window argmax
    // with an explicit lexicographic tiebreak — engine-native mode()
    // picks ties arbitrarily, which can never hash-match
    "agg_mode" -> Q(
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY count(*) DESC, o_orderpriority) AS rk
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val counts = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy(col("n").desc, col("o_orderpriority"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("n"))
        .orderBy("o_orderstatus")
    },

    "agg_global" -> Q(
      s"""SELECT count(*) AS n, ${dsumSql("o_totalprice")} AS total,
         |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
         |  count(DISTINCT o_orderstatus) AS n_status
         |FROM orders""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          countDistinct(col("o_orderstatus")).as("n_status"))
    },

    "agg_count_distinct" -> Q(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // approx ≠ hash-matchable: property-tested against exact distinct
    // (AggSpec) instead of the DuckDB oracle (SURVEY.md §2.4).
    "agg_approx_distinct" -> Q.noOracle { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy("l_returnflag")
    },

    // MERGEABLE sketch tables (round 8 — the 100-TB pre-aggregation
    // pattern approx_count_distinct can't express: a daily pipeline
    // materializes per-(group, partition) sketch BYTES once, then any
    // later rollup UNIONS sketches instead of rescanning raw data).
    // Spark 4's Apache DataSketches HLL functions: hll_sketch_agg
    // builds per-(flag, status) sketches; hll_union_agg rolls them up
    // to per-flag estimates WITHOUT touching lineitem again — the
    // sketch column is what a deployment writes to its metrics store.
    // Sketch bytes are implementation-defined → no DuckDB twin; the
    // property spec bounds both estimate levels against exact distinct
    // counts at sf.
    "agg_sketch_union" -> Q.noOracle { (s, d) =>
      val perStatus = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_partkey"), lit(14)).as("sk"),
          count(lit(1)).as("n_rows"))
      perStatus
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)))
            .cast("long").as("approx_parts_rollup"),
          sum(col("n_rows")).as("n_rows"))
        .orderBy("l_returnflag")
    },

    "agg_stats" -> Q(
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"))
        .orderBy("l_returnflag")
    },

    "agg_percentile" -> Q(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Spark `percentile` is the exact interpolating percentile —
      // semantics of DuckDB quantile_cont
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.95)"), 4).as("p95"))
        .orderBy("l_returnflag")
    },

    "agg_grouping_sets" -> Q(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      // SQL front door (E2) — GROUPING SETS is SQL-native in Spark too
      Tables.reg(s, d)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },

    "agg_rollup" -> Q(
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    "agg_cube" -> Q(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    "agg_pivot" -> Q(
      """SELECT l_linestatus,
        |  count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS A,
        |  count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS N,
        |  count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      val piv = Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .count()
      // pivot-count leaves absent combinations null; DuckDB's CASE-count
      // yields 0 — normalize
      piv.select(col("l_linestatus") +: Seq("A", "N", "R").map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("l_linestatus")
    },

    // nested outputs are serialized to a delimited string: the driver's
    // checker sorts result columns in pandas, which cannot hash arrays
    "agg_collect" -> Q(
      """SELECT p_type, array_to_string(list_sort(list(DISTINCT p_brand)), '|') AS brands, count(*) AS n
        |FROM part GROUP BY p_type ORDER BY p_type""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .groupBy(col("p_type"))
        .agg(concat_ws("|", sort_array(collect_set(col("p_brand")))).as("brands"),
          count(lit(1)).as("n"))
        .orderBy("p_type")
    },

    "agg_first_last" -> Q(
      """SELECT o_orderstatus,
        |  max_by(o_custkey, o_orderkey) AS last_cust,
        |  min_by(o_custkey, o_orderkey) AS first_cust,
        |  max(o_orderkey) AS max_key, min(o_orderkey) AS min_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(max_by(col("o_custkey"), col("o_orderkey")).as("last_cust"),
          min_by(col("o_custkey"), col("o_orderkey")).as("first_cust"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderstatus")
    },

    "agg_conditional" -> Q(
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00') AS DOUBLE) AS recent_qty,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val recent = col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(when(recent, col("l_quantity").cast(DecimalType(18, 2)))).cast("double").as("recent_qty"),
          count(when(col("l_discount") > 0.05, lit(1))).as("n_discounted"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // boolean aggregate family (every/any/count_if)
    "agg_bool" -> Q(
      """SELECT o_orderstatus,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_totalprice > 400000) AS any_over_400k,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          count_if(col("o_orderpriority") === "1-URGENT").as("n_urgent"))
        .orderBy("o_orderstatus")
    },

    // explicit SALTED two-stage aggregation — the standing treatment for
    // skewed group keys at 100 TB (l_returnflag has 3 values, so one
    // reducer would otherwise take a third of the table): stage 1 groups
    // by (key, salt) where salt is derived from the DISTINCT-counted
    // column (same suppkey → same salt, so per-salt distinct counts add
    // up exactly); stage 2 sums the per-salt partials. Oracle = the
    // plain count(DISTINCT) spelling.
    "agg_salted" -> Q(
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val salted = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_suppkey"),
          pmod(xxhash64(col("l_suppkey")), lit(16)).as("salt"))
      salted.groupBy("l_returnflag", "salt")
        .agg(countDistinct(col("l_suppkey")).as("nd"), count(lit(1)).as("n"))
        .groupBy("l_returnflag")
        .agg(sum("nd").as("n_supp"), sum("n").as("n_rows"))
        .orderBy("l_returnflag")
    },

    "dedup_exact" -> Q(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |                       ORDER BY l_partkey, l_suppkey, l_extendedprice) AS rn
        |  FROM lineitem) WHERE rn = 1
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      // Deterministic keyed dedup (LLM-pipeline `dedup_exact`): the
      // arbitrary-keep dropDuplicates is not hash-matchable, so the
      // survivor is min_by over the full remaining-column struct
      // (lexicographic struct order ≡ the ORDER BY tiebreak). A hash
      // aggregate with map-side partials — no per-partition sort and the
      // shuffle carries one survivor per (partition, key), unlike the
      // window form which sorts and shuffles every row.
      val rest = struct(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(min_by(rest, rest).as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("m.l_partkey"), col("m.l_suppkey"), col("m.l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }
  )
}
