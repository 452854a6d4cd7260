package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Fixture, Q, Tables}

/** SURVEY.md §2.1 — scans, sources, sinks.
  *
  * `scan_csv`/`scan_json` round-trip a dimension table through the text
  * format into a deterministic temp dir, then read back with an explicit
  * schema — exercising the source API while keeping a parquet-derivable
  * oracle. `sink_parquet`/`sink_partitioned` are side-effecting and are
  * verified by unit tests (SinkSpec) instead of the DuckDB oracle.
  */
object Scans {

  private def tmpDir(sfDir: String, leaf: String): String = {
    val sf = new java.io.File(sfDir).getName
    s"${System.getProperty("java.io.tmpdir")}/graft_io/$sf/$leaf"
  }

  /** Parquet write → read-back used by the sink unit tests. */
  def parquetRoundTrip(s: SparkSession, d: String): DataFrame = {
    val out = tmpDir(d, "sink_parquet")
    Tables.nation(s, d).write.mode("overwrite").parquet(out)
    Tables.parquet(s, out)
  }

  /** Partitioned write (`partitionBy`) — read-back of one partition must
    * prune input files (asserted in SinkSpec via inputFiles count).
    */
  def partitionedWrite(s: SparkSession, d: String): String = {
    val out = tmpDir(d, "sink_partitioned")
    Tables.orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(out)
    out
  }

  /** Lineitem written with a split-block bloom filter on l_partkey and
    * small row groups (1 MiB) so point lookups have groups to skip.
    * RelSpec reads the footer to prove the blooms are really there.
    *
    * Write-once per sf: the registered op is a SCAN demonstrating bloom
    * row-group skipping, so the store is built once, like a deployed
    * bloom-equipped table, not on every call.
    */
  def bloomWrite(s: SparkSession, d: String): String =
    Fixture.once("scan_parquet_bloom", Seq(d)) { out =>
      Tables.lineitem(s, d).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "4096")
        // parquet-mr suppresses the bloom when the column stays fully
        // dictionary-encoded (the dict is already exact membership);
        // force plain encoding for the key column — at real scale the
        // dict page overflows anyway, which is exactly when blooms matter
        .option("parquet.enable.dictionary#l_partkey", "false")
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(out)
    }

  def defs: Seq[(String, Q)] = Seq(
    "scan_parquet" -> Q(
      "SELECT * FROM part ORDER BY p_partkey") { (s, d) =>
      Tables.part(s, d).orderBy("p_partkey")
    },

    "scan_csv" -> Q(
      "SELECT * FROM nation ORDER BY n_nationkey") { (s, d) =>
      val nation = Tables.nation(s, d)
      val out = tmpDir(d, "nation_csv")
      nation.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(nation.schema).option("header", "true").csv(out)
        .orderBy("n_nationkey")
    },

    "scan_orc" -> Q(
      "SELECT * FROM supplier ORDER BY s_suppkey") { (s, d) =>
      // ORC round-trip: Spark's other first-class columnar format (same
      // vectorized reader path as parquet); oracle reads the source table
      val sup = Tables.supplier(s, d)
      val out = tmpDir(d, "supplier_orc")
      sup.write.mode("overwrite").orc(out)
      s.read.schema(sup.schema).orc(out).orderBy("s_suppkey")
    },

    "scan_json" -> Q(
      "SELECT * FROM region ORDER BY r_regionkey") { (s, d) =>
      val region = Tables.region(s, d)
      val out = tmpDir(d, "region_json")
      region.write.mode("overwrite").json(out)
      s.read.schema(region.schema).json(out).orderBy("r_regionkey")
    },

    // the sinks return the read-back of what they wrote, so the DuckDB
    // oracle over the SOURCE table verifies the full write→read round
    // trip (values and types); file-level behavior (file counts,
    // partition pruning on read-back) stays in SinkSpec
    "sink_parquet" -> Q(
      "SELECT * FROM nation ORDER BY n_nationkey") { (s, d) =>
      parquetRoundTrip(s, d).orderBy("n_nationkey")
    },

    "sink_partitioned" -> Q(
      "SELECT * FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey") { (s, d) =>
      val out = partitionedWrite(s, d)
      Tables.parquet(s, out).filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
        .orderBy("o_orderkey")
    },

    // parquet BLOOM FILTERS (parquet-mr 1.12+): the point-lookup
    // row-group skipping play for high-cardinality UNSORTED columns,
    // where min/max stats never prune (every row group spans nearly the
    // full key range). The writer embeds a split-block bloom per row
    // group for l_partkey; the reader's predicate pushdown consults it
    // and skips groups that definitely lack the key — at 100 TB this
    // turns a point lookup over an unclustered table from a full scan
    // into touching ~the one matching group per file. The oracle
    // verifies the full write→filter→read round trip; RelSpec asserts
    // the footer actually carries a bloom for the column (and only
    // that column) — without it the read is silently a full scan.
    "scan_parquet_bloom" -> Q(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_partkey = 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val out = bloomWrite(s, d)
      Tables.parquet(s, out)
        .filter(org.apache.spark.sql.functions.col("l_partkey") === 100)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // SCHEMA EVOLUTION (the lakehouse reality: yesterday's files lack
    // today's columns): generation 1 writes supplier without s_acctbal,
    // generation 2 adds it; `mergeSchema` unions the footers at read
    // time and back-fills NULL for the missing column — no rewrite of
    // the old files. At 100 TB rewriting history for a column-add is a
    // non-starter; footer-merge costs one metadata pass. Gen is carried
    // as a column so the oracle can replay the exact NULL pattern.
    "scan_parquet_evolve" -> Q(
      """SELECT s_suppkey, s_name, s_nationkey, gen, bal AS s_acctbal FROM (
        |  SELECT s_suppkey, s_name, s_nationkey, 1 AS gen,
        |    CAST(NULL AS DOUBLE) AS bal
        |  FROM supplier WHERE s_suppkey % 2 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_nationkey, 2 AS gen, s_acctbal AS bal
        |  FROM supplier WHERE s_suppkey % 2 = 1)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.{col, lit}
      val out = tmpDir(d, "scan_parquet_evolve")
      val sup = Tables.supplier(s, d)
      sup.filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), lit(1).as("gen"))
        .write.mode("overwrite").parquet(s"$out/g1")
      sup.filter(col("s_suppkey") % 2 === 1)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), lit(2).as("gen"),
          col("s_acctbal"))
        .write.mode("overwrite").parquet(s"$out/g2")
      s.read.option("mergeSchema", "true").parquet(s"$out/g1", s"$out/g2")
        .select("s_suppkey", "s_name", "s_nationkey", "gen", "s_acctbal")
        .orderBy("s_suppkey")
    },

    // small-files compaction (the lakehouse maintenance staple): a
    // fragmented table (one file per shuffle partition) is rewritten to
    // a small fixed file count with coalesce — no shuffle, each output
    // task concatenates input splits. The oracle verifies every row
    // survived; RelSpec asserts the file-count drop.
    "sink_compact" -> Q(
      "SELECT * FROM customer ORDER BY c_custkey") { (s, d) =>
      val frag = tmpDir(d, "compact_in")
      val out = tmpDir(d, "compact_out")
      Tables.customer(s, d).repartition(16).write.mode("overwrite").parquet(frag)
      Tables.parquet(s, frag).coalesce(2).write.mode("overwrite").parquet(out)
      Tables.parquet(s, out).orderBy("c_custkey")
    },

    // MERGE INTO apply (the lakehouse CDC upsert): WHEN MATCHED UPDATE,
    // WHEN NOT MATCHED INSERT, no delete clause — the applied table is
    // changes ∪ (base ANTI-JOIN changes). Same base/changes snapshots
    // as join_table_diff (that op REPORTS the delta; this one APPLIES
    // it). The anti-join shuffles on the key like any co-partitioned
    // MERGE; the write→read-back makes the gate cover the applied
    // table on disk, not just the plan.
    "sink_upsert" -> Q(
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        |  WHERE o_orderkey % 10 <> 0),
        |changes AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT k, v FROM changes
        |UNION ALL
        |SELECT k, v FROM base WHERE k NOT IN (SELECT k FROM changes)
        |ORDER BY k""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.{col, when}
      val o = Tables.orders(s, d)
      val base = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      val changes = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice")).as("v"))
      val merged = changes.union(
        base.join(changes.select("k"), Seq("k"), "left_anti"))
      val out = tmpDir(d, "sink_upsert")
      merged.write.mode("overwrite").parquet(out)
      Tables.parquet(s, out).orderBy("k")
    }
  )
}
