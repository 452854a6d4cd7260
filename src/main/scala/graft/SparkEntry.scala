package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}

/** Driver contract (SURVEY.md §7): the operator registry. Each entry in
  * `queries` is one SURVEY.md §2 operator ID; `oracleSql` carries the
  * DuckDB-equivalent SQL for the hash-match correctness gate.
  */
object SparkEntry {

  /** Flagship zonal-shaped star query on sf0.001: revenue by nation
    * (lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation)); the driver
    * smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val o  = Tables.orders(spark, d)
    val c  = Tables.customer(spark, d)
    val n  = Tables.nation(spark, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))
  }

  /** Ordered registry: (id, Q). Order follows SURVEY.md §2. */
  val registry: Seq[(String, Q)] =
    rel.Scans.defs ++
    rel.FilterProject.defs ++
    rel.Joins.defs ++
    rel.Aggregates.defs ++
    rel.SortSet.defs ++
    rel.Windows.defs ++
    rel.Functions.defs ++
    rel.Udfs.defs ++
    zonal.Zonal.defs ++
    zonal.Raster.defs ++
    zonal.Align.defs ++
    zonal.Polygonize.defs ++
    zonal.Zarr.defs ++
    zonal.Netcdf.defs ++
    zonal.Hdf5.defs ++
    zonal.Reproject.defs ++
    zonal.Utm.defs ++
    zonal.GridMapping.defs ++
    zonal.Helmert.defs ++
    llm.Text.defs ++
    llm.Dedup.defs ++
    llm.Sim.defs ++
    llm.Multimodal.defs ++
    stream.Streams.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> ((s: SparkSession, d: String) => q.build(s, d)) }.toMap

  def oracleSql: Map[String, String] =
    registry.collect { case (n, Q(_, Some(sql))) => n -> sql }.toMap
}
