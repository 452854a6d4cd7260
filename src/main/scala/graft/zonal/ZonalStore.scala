package graft.zonal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Det.dsum
import graft.core.{Fixture, Tables}

/** Tile-partitioned cube storage + tile-pruned zonal scans — the one
  * genuinely bespoke zonal optimization (SURVEY.md §4 "Tile-pruning"):
  * only the cube tiles whose extent intersects the requested zones'
  * envelopes are ever read.
  *
  * The cube is written `partitionBy(tile_x, tile_y)`; a query for a zone
  * subset derives the covered tile set from the (tiny, by-contract)
  * zones table and filters on the partition columns — static partition
  * pruning, so the Parquet scan never touches other tiles' files. The
  * driver-side collect is bounded by |zones| × tiles-per-zone, which is
  * the Raptor deal: zones are always ≪ cube (PAPERS.md:9).
  */
object ZonalStore {

  /** Write (once) the tiled cube for a scale-factor dir; returns path. */
  def ensureTiled(s: SparkSession, d: String): String =
    Fixture.once("cells_tiled", Seq(d)) { path =>
      Cube.withTiles(Cube.cells(s, d))
        .write.mode("overwrite").partitionBy("tile_x", "tile_y").parquet(path)
    }

  /** Disjunction over the tile pairs covered by `zonesDf` — a predicate
    * on the partition columns, so it statically prunes the tiled store.
    *
    * NOTE: this is the STATIC fallback and the only zonal path with a
    * driver-side collect (bounded by |zones| × tiles-per-zone). Prefer
    * [[prunedStatsDynamic]] — dynamic partition pruning keeps the tile
    * set inside the plan with no collect at all; the registry's
    * `zonal_pruned` uses it, and ExtSpec asserts the DPP expression.
    * Keep this form only for engines/queries where DPP cannot fire
    * (e.g. a non-broadcastable zone table).
    */
  def tilePredicate(zonesDf: DataFrame): org.apache.spark.sql.Column = {
    val tiles = Cube.zoneTiles(zonesDf).select("tile_x", "tile_y")
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
    tiles.map { case (tx, ty) =>
      col("tile_x") === tx && col("tile_y") === ty
    }.reduce(_ || _)
  }

  /** Zonal stats for a zone subset over the tiled store, scanning only
    * intersecting tiles — STATIC variant: tile set computed up front
    * (one tiny job) and pushed as a literal partition predicate.
    */
  def prunedStats(s: SparkSession, path: String, zonesDf: DataFrame): DataFrame = {
    val cells = Tables.parquet(s, path).filter(tilePredicate(zonesDf))
    cells.join(broadcast(zonesDf),
        col("cell_x").between(col("xmin"), col("xmax"))
          && col("cell_y").between(col("ymin"), col("ymax")))
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_cells"), dsum(col("value")).as("sum_v"))
  }

  /** DYNAMIC variant: no driver-side tile collection at all. The tiled
    * store equi-joins the (broadcast) zone→tile coverage on the
    * partition columns, and Spark's dynamic partition pruning turns the
    * broadcast keys into a runtime partition filter
    * (`dynamicpruningexpression(tile_x IN …)` — asserted in ExtSpec).
    * This is the preferred 100 TB form: the tile set never leaves the
    * plan, and the envelope refinement runs on pruned tiles only.
    */
  def prunedStatsDynamic(s: SparkSession, path: String, zonesDf: DataFrame): DataFrame =
    Tables.parquet(s, path)
      .join(broadcast(Cube.zoneTiles(zonesDf)), Seq("tile_x", "tile_y"))
      .filter(col("cell_x").between(col("xmin"), col("xmax"))
        && col("cell_y").between(col("ymin"), col("ymax")))
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_cells"), dsum(col("value")).as("sum_v"))
}
