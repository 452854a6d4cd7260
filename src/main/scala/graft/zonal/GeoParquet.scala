package graft.zonal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixture, Tables}

/** GeoParquet-shaped vector I/O (r12 — the modern cloud-native vector
  * format: geometries as WKB BLOBs in ordinary parquet, so every
  * engine's native parquet machinery carries the container and only
  * the geometry encoding is format-specific). Spark's own parquet
  * source does the I/O — predicate pushdown, column pruning and
  * distributed writes all come for free, which is exactly the format's
  * point — and the WKB column feeds the shared zone pipeline
  * (make_wkb / point_in_wkb / parseWkbPolygon) unchanged.
  *
  * Scope note: the GeoParquet spec's `geo` file-metadata key (CRS,
  * bbox, encoding declarations) rides the parquet FOOTER key-value
  * store, which Spark's writer does not expose — readers here key off
  * the WKB column itself, which every GeoParquet implementation also
  * carries. Column layout follows the spec's primary-geometry
  * convention (one WKB column + per-row bbox columns).
  */
object GeoParquet {

  /** Write the zone table as GeoParquet-shaped parquet: one row per
    * zone, WKB Polygon `geometry` + bbox columns — a DISTRIBUTED write
    * (plain `df.write.parquet`), unlike the single-file vector
    * containers.
    */
  def writeZones(s: SparkSession, d: String, path: String): Unit = {
    Cube.verts(s, d, Cube.NGonRings)
      .groupBy(col("zone_id"))
      .agg(expr("make_wkb(sort_array(collect_list(struct(part, ring, i, vx, vy))))").as("geometry"),
        min(col("vx")).as("xmin"), max(col("vx")).as("xmax"),
        min(col("vy")).as("ymin"), max(col("vy")).as("ymax"))
      .write.mode("overwrite").parquet(path)
  }

  /** Write-once zone fixture per data dir — the read-side ops
    * (zonal_geoparquet, scan_geoparquet_window) consume this; the
    * write-side op (sink_geoparquet) writes fresh every run.
    */
  def fixturePath(s: SparkSession, d: String): String =
    Fixture.once("zones_geoparquet", Seq(d))(writeZones(s, d, _))

  /** Zones straight from the parquet WKB column — already the engine's
    * zone shape `(zone_id, geom, xmin, xmax, ymin, ymax)`.
    */
  def readZones(s: SparkSession, path: String): DataFrame = {
    Tables.parquet(s, path)
      .select(col("zone_id"), col("geometry").as("geom"),
        col("xmin"), col("xmax"), col("ymin"), col("ymax"))
  }

  /** WINDOW query over the bbox columns: a plain parquet FILTER, which
    * is the format's whole point — Spark pushes the bbox predicates to
    * the scan (`PushedFilters`), parquet row-group min/max statistics
    * prune matching pages, and no rtree sidecar is needed
    * (PlanShapeSpec pins the pushdown).
    */
  def readZonesWindow(s: SparkSession, path: String,
      wx0: Int, wx1: Int, wy0: Int, wy1: Int): DataFrame =
    readZones(s, path)
      .filter(col("xmin") <= wx1 && col("xmax") >= wx0
        && col("ymin") <= wy1 && col("ymax") >= wy0)

  /** Long-form vertices from the WKB column (the shapefile/gpkg verts
    * shape), parsed executor-side.
    */
  def readVerts(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    Tables.parquet(s, path)
      .select(col("zone_id").cast("int"), col("geometry"))
      .as[(Int, Array[Byte])]
      .flatMap { case (zid, wkb) =>
        Gpkg.parseWkbPolygon(wkb, 0, s"geoparquet zone $zid").map {
          case (ring, i, x, y) => (zid, 0, ring, i, x, y)
        }
      }
      .toDF("zone_id", "part", "ring", "i", "x", "y")
  }
}
