package graft.zonal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The zonal datacube data model (SURVEY.md §1, §2.9; reference scope:
  * /root/reference/README.md:2 "Scalable Dask-backed zonal statistics").
  *
  * A datacube is a *long-form cell relation* — one row per raster cell
  * `(cell_x, cell_y, value, category, t, w)` — the Raptor-style
  * "raster as relation" design (PAPERS.md:9) that makes zonal statistics
  * a relational join + group-by and lets Catalyst/Tungsten run it.
  * Zones are a tiny table of `(zone_id, envelope)`; at 100 TB the cube is
  * partitioned by tile and zones are always broadcast.
  *
  * No raster ships with the testdata, so the cube/zones are derived
  * deterministically from `lineitem`/`nation` by pure arithmetic
  * (FIXTURES.md "Synthetic zonal cube") — both engines derive them
  * identically, keeping every zonal operator DuckDB-oracle-checkable.
  */
object Cube {

  /** Fishnet tile width (8×8 tiles on the 64×64 grid) — the Dask-chunk
    * analogue and the cube's physical partition key at scale.
    */
  val TileSize = 8

  /** DuckDB spelling of the cell derivation (oracle WITH-clause body). */
  val CellsSql: String =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
      |  l_orderkey % 64 AS cell_x, l_partkey % 64 AS cell_y,
      |  l_extendedprice AS value, l_returnflag AS category,
      |  l_shipdate AS t, l_quantity AS w
      |FROM lineitem""".stripMargin

  /** DuckDB spelling of the zone derivation. */
  val ZonesSql: String =
    """SELECT n_nationkey AS zone_id, n_name AS zone_name,
      |  (n_nationkey * 2) % 56 AS xmin, (n_nationkey * 2) % 56 + 7 AS xmax,
      |  (n_nationkey * 3) % 56 AS ymin, (n_nationkey * 3) % 56 + 7 AS ymax
      |FROM nation""".stripMargin

  /** Oracle preamble shared by all zonal oracles. */
  def withSql(body: String): String =
    s"WITH cells AS (\n$CellsSql\n), zones AS (\n$ZonesSql\n)\n$body"

  /** Long-form cell table (keeps the lineitem identity columns so
    * row-level outputs can order deterministically on Tables.liKey).
    */
  def cells(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      (col("l_orderkey") % 64).as("cell_x"),
      (col("l_partkey") % 64).as("cell_y"),
      col("l_extendedprice").as("value"),
      col("l_returnflag").as("category"),
      col("l_shipdate").as("t"),
      col("l_quantity").as("w"))

  /** Zone features: id + envelope (geometry reduced to envelopes by
    * design — SURVEY.md §7 trap 7).
    */
  def zones(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(
      col("n_nationkey").as("zone_id"), col("n_name").as("zone_name"),
      (col("n_nationkey") * 2 % 56).as("xmin"),
      (col("n_nationkey") * 2 % 56 + 7).as("xmax"),
      (col("n_nationkey") * 3 % 56).as("ymin"),
      (col("n_nationkey") * 3 % 56 + 7).as("ymax"))

  private def tileOf(c: Column): Column = (c / TileSize).cast("int") // non-negative: trunc == floor

  /** `zonal_fishnet`: tile-index the cells. At 100 TB this is the
    * partition key (`repartition`/`partitionBy` on tile) bounding each
    * task's working set — the Dask-chunk analogue.
    */
  def withTiles(cellsDf: DataFrame): DataFrame =
    cellsDf
      .withColumn("tile_x", tileOf(col("cell_x")))
      .withColumn("tile_y", tileOf(col("cell_y")))

  /** Zone → tile coverage: explode each envelope into the tiles it
    * overlaps. Tiny (|zones| × overlapped tiles) and computed inside the
    * plan — no driver-side collect.
    */
  def zoneTiles(zonesDf: DataFrame): DataFrame =
    zonesDf
      .withColumn("tile_x", explode(sequence(tileOf(col("xmin")), tileOf(col("xmax")))))
      .withColumn("tile_y", explode(sequence(tileOf(col("ymin")), tileOf(col("ymax")))))

  /** `zonal_rasterize` / `join_spatial_zones`: assign every cell the
    * zone(s) whose envelope contains it (many-to-many; overlapping zones
    * are the general case).
    *
    * Raptor-style tile equi-join (PAPERS.md:9): instead of a nested-loop
    * range join of cells × zones, equi-join cells to the exploded
    * zone-tile coverage on `(tile_x, tile_y)` — a broadcast *hash* join,
    * codegen'd and shuffle-free on the cell side — then refine with the
    * exact envelope predicate. Semantically identical to the range join;
    * the plan scales to a 1000-executor cube scan.
    */
  def rasterize(cellsDf: DataFrame, zonesDf: DataFrame): DataFrame = {
    val tiled = withTiles(cellsDf)
    val zt = zoneTiles(zonesDf)
    tiled.join(broadcast(zt), Seq("tile_x", "tile_y"))
      .filter(col("cell_x").between(col("xmin"), col("xmax"))
        && col("cell_y").between(col("ymin"), col("ymax")))
  }

  /** The oracle spelling of [[rasterize]]'s *result* (the oracle checks
    * semantics, not the plan): plain envelope-containment range join.
    */
  val RasterizeJoinSql: String =
    """FROM cells JOIN zones
      |  ON cell_x BETWEEN xmin AND xmax AND cell_y BETWEEN ymin AND ymax""".stripMargin

  // ---- polygon zones (round 3: real geometry instead of envelopes) ----

  /** Deterministic simple quadrilateral per zone: one integer vertex on
    * each envelope side, traversed bottom → right → top → left — always
    * a simple (non-self-intersecting) ring, varying by zone_id. Pure
    * arithmetic, so both engines derive identical rings and every
    * polygon operator stays DuckDB-oracle-checkable.
    */
  val VertexDefs: Seq[(String, String)] = Seq(
    "vx0" -> "xmin + 1 + zone_id % 3", "vy0" -> "ymin",
    "vx1" -> "xmax",                   "vy1" -> "ymin + 1 + zone_id % 4",
    "vx2" -> "xmax - zone_id % 2",     "vy2" -> "ymax",
    "vx3" -> "xmin",                   "vy3" -> "ymax - zone_id % 3")

  /** [[zones]] + ring vertex columns (the polygon zone table). */
  def polyZones(s: SparkSession, d: String): DataFrame =
    VertexDefs.foldLeft(zones(s, d)) { case (df, (n, e)) => df.withColumn(n, expr(e)) }

  /** DuckDB twin of [[polyZones]] (a `pzones` derived table body). */
  val PolyZonesSql: String =
    s"SELECT *, ${VertexDefs.map { case (n, e) => s"$e AS $n" }.mkString(", ")} FROM zones"

  /** Even-odd ray-casting point-in-polygon over the ring columns —
    * EXACT integer arithmetic (no division: the crossing test compares
    * the cross-product sign against the edge direction), so the same
    * string evaluates identically as a Spark expression and as DuckDB
    * SQL. `scale` multiplies the ring onto a finer integer lattice (the
    * coverage supersampler scales ×8 so subcell sample coords stay
    * integral). Points exactly on an edge follow the half-open crossing
    * rule — deterministic and identical in both engines.
    */
  def pipSql(px: String, py: String, scale: Int = 1, vp: String = "v"): String = {
    val crossings = (0 until 4).map { i =>
      val j = (i + 1) % 4
      val (xi, yi) = (s"($scale * ${vp}x$i)", s"($scale * ${vp}y$i)")
      val (xj, yj) = (s"($scale * ${vp}x$j)", s"($scale * ${vp}y$j)")
      val dy = s"($yj - $yi)"
      val cr = s"(($xj - $xi) * (($py) - $yi) - (($px) - $xi) * $dy)"
      s"(CASE WHEN (($yi > ($py)) <> ($yj > ($py))) " +
        s"AND (($dy > 0 AND $cr > 0) OR ($dy < 0 AND $cr < 0)) THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"(($crossings) % 2 = 1)"
  }

  /** Spark-side pip: the codegen'd [[graft.ext.PointInQuad]] expression.
    * Same semantics as [[pipSql]] — which stays the DuckDB oracle
    * spelling — but compiles to one call into a
    * tight static loop instead of a composed expression tree whose
    * generated method would blow past the JIT's huge-method limit
    * (ExtSpec asserts the two spellings agree on every grid point).
    */
  def pipExpr(px: String, py: String, scale: Int = 1, vp: String = "v"): String = {
    val vs = (0 until 4).flatMap(i => Seq(s"$scale * ${vp}x$i", s"$scale * ${vp}y$i"))
    s"point_in_quad($px, $py, ${vs.mkString(", ")})"
  }

  /** Interior hole ring (even-odd semantics make zone∖hole simply the
    * XOR of the two ring containments): a small diamond near the
    * envelope's lower-left, varying by zone_id.
    */
  val HoleDefs: Seq[(String, String)] = Seq(
    "hx0" -> "xmin + 3", "hy0" -> "ymin + 2",
    "hx1" -> "xmin + 5", "hy1" -> "ymin + 3 + zone_id % 2",
    "hx2" -> "xmin + 4", "hy2" -> "ymin + 5",
    "hx3" -> "xmin + 2", "hy3" -> "ymin + 4")

  /** [[polyZones]] + hole ring columns. */
  def polyZonesHole(s: SparkSession, d: String): DataFrame =
    HoleDefs.foldLeft(polyZones(s, d)) { case (df, (n, e)) => df.withColumn(n, expr(e)) }

  /** DuckDB twin of [[polyZonesHole]]. */
  val PolyZonesHoleSql: String =
    s"SELECT *, ${HoleDefs.map { case (n, e) => s"$e AS $n" }.mkString(", ")} FROM ($PolyZonesSql) pzz"

  // ---- n-vertex / multipolygon WKB zones (round 4: SURVEY §1.2's
  // promised WKB BinaryType geometry, generalized from the fixed quad) --

  /** One polygon ring drawn by walking a box boundary: `n` vertices at
    * integer perimeter positions `p_i = (P·i div n + off) mod P` mapped
    * to boundary points (P = the box perimeter). Vertices land on a
    * convex curve in cyclic order, so the ring is ALWAYS simple, while
    * `n`/`off` vary it per zone. Pure integer arithmetic — both engines
    * derive identical vertices ([[ringVertsSql]] is the shared spelling).
    *
    * `n` / `bx0` / `by0` / `off` are SQL expressions over the `zones`
    * columns; `cond` restricts which zones carry the ring (e.g. holes on
    * even zone ids only).
    */
  final case class RingSpec(part: Int, ring: Int, n: String,
      bx0: String, by0: String, w: Int, h: Int, off: String,
      cond: Option[String] = None)

  /** `zonal_stats_polygon_n` geometry: an n-gon outer ring (n = 5..8
    * varying per zone) on the envelope boundary, plus a square hole on
    * even zone ids — even-odd parity subtracts the hole.
    */
  val NGonRings: Seq[RingSpec] = Seq(
    RingSpec(0, 0, "5 + zone_id % 4", "xmin", "ymin", 7, 7, "zone_id * 3"),
    RingSpec(0, 1, "4", "(xmin + 2)", "(ymin + 2)", 2, 2, "0", Some("zone_id % 2 = 0")))

  /** `zonal_stats_multipolygon` geometry: two x-disjoint parts (left /
    * right of the envelope), vertex counts varying independently.
    */
  val MultiRings: Seq[RingSpec] = Seq(
    RingSpec(0, 0, "4 + zone_id % 3", "xmin", "ymin", 3, 7, "zone_id * 2"),
    RingSpec(1, 0, "4 + (zone_id + 1) % 3", "(xmin + 5)", "ymin", 2, 7, "zone_id"))

  /** Boundary-walk vx/vy CASE expressions over a position column `p`. */
  private def walkExprs(r: RingSpec): (String, String) = {
    val bx1 = s"(${r.bx0} + ${r.w})"
    val by1 = s"(${r.by0} + ${r.h})"
    val vx = s"(CASE WHEN p < ${r.w} THEN ${r.bx0} + p" +
      s" WHEN p < ${r.w + r.h} THEN $bx1" +
      s" WHEN p < ${2 * r.w + r.h} THEN $bx1 - (p - ${r.w + r.h})" +
      s" ELSE ${r.bx0} END)"
    val vy = s"(CASE WHEN p < ${r.w} THEN ${r.by0}" +
      s" WHEN p < ${r.w + r.h} THEN ${r.by0} + (p - ${r.w})" +
      s" WHEN p < ${2 * r.w + r.h} THEN $by1" +
      s" ELSE $by1 - (p - ${2 * r.w + r.h}) END)"
    (vx, vy)
  }

  /** Long-form ring vertices (zone_id, part, ring, n, i, vx, vy) —
    * Spark side. Integer-division / series spellings differ per engine,
    * everything else is the same generated arithmetic.
    */
  private def ringVerts(z: DataFrame, r: RingSpec): DataFrame = {
    val P = 2 * (r.w + r.h)
    val (vx, vy) = walkExprs(r)
    val base = r.cond.fold(z)(c => z.filter(expr(c)))
    base.select(col("zone_id"), col("xmin"), col("ymin"),
        lit(r.part).as("part"), lit(r.ring).as("ring"), expr(r.n).as("n"),
        explode(expr(s"sequence(0, (${r.n}) - 1)")).as("i"))
      .withColumn("p", expr(s"((($P * i) div n) + ${r.off}) % $P"))
      .selectExpr("zone_id", "part", "ring", "n", "i",
        s"CAST($vx AS INT) AS vx", s"CAST($vy AS INT) AS vy")
  }

  /** DuckDB twin of [[ringVerts]] (one UNION ALL branch of `verts`). */
  private def ringVertsSql(r: RingSpec): String = {
    val P = 2 * (r.w + r.h)
    val (vx, vy) = walkExprs(r)
    val where = r.cond.fold("")(c => s" WHERE $c")
    s"""SELECT zone_id, part, ring, n, i,
       |    CAST($vx AS INTEGER) AS vx, CAST($vy AS INTEGER) AS vy FROM (
       |  SELECT *, (((($P * i) // n)) + ${r.off}) % $P AS p FROM (
       |    SELECT zone_id, xmin, ymin, ${r.part} AS part, ${r.ring} AS ring,
       |           (${r.n}) AS n, unnest(generate_series(0, (${r.n}) - 1)) AS i
       |    FROM zones$where) t0) t1""".stripMargin
  }

  /** All ring vertices for a geometry family. */
  def verts(s: SparkSession, d: String, rings: Seq[RingSpec]): DataFrame =
    rings.map(ringVerts(zones(s, d), _)).reduce(_ union _)

  /** DuckDB `verts` CTE body for the same family. */
  def vertsSql(rings: Seq[RingSpec]): String =
    rings.map(ringVertsSql).mkString("\n  UNION ALL ")

  // ---- point features (r16: stations — the vector POINT family) ----

  /** DuckDB spelling of the station (point-feature) derivation: one
    * integer lattice point per supplier on the SAME 64×64 grid as the
    * cube cells, plus a money value for the zonal aggregates. Pure
    * arithmetic — both engines derive identical points, keeping every
    * point operator DuckDB-oracle-checkable.
    */
  val StationsSql: String =
    """SELECT CAST(s_suppkey AS INTEGER) AS station_id,
      |  CAST((s_suppkey * 7 + 5) % 64 AS INTEGER) AS px,
      |  CAST((s_suppkey * 11 + 3) % 64 AS INTEGER) AS py,
      |  s_acctbal AS sval
      |FROM supplier""".stripMargin

  /** Station points `(station_id, px, py, sval)` — Spark twin
    * (s_suppkey ships as INT64; the lattice columns are int).
    */
  def stations(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(
      col("s_suppkey").cast("int").as("station_id"),
      ((col("s_suppkey") * 7 + 5) % 64).cast("int").as("px"),
      ((col("s_suppkey") * 11 + 3) % 64).cast("int").as("py"),
      col("s_acctbal").as("sval"))

  /** MultiPoint derivation: station k carries `2 + k % 3` member
    * points, member j at `((px + 9j) % 64, (py + 13j) % 64)` —
    * long-form `(station_id, i, qx, qy)`.
    */
  def multiPoints(s: SparkSession, d: String): DataFrame =
    stations(s, d)
      .select(col("station_id"), col("px"), col("py"),
        explode(expr("sequence(0, (2 + station_id % 3) - 1)")).as("i"))
      .select(col("station_id"), col("i").cast("int").as("i"),
        ((col("px") + col("i") * 9) % 64).cast("int").as("qx"),
        ((col("py") + col("i") * 13) % 64).cast("int").as("qy"))

  /** DuckDB twin of [[multiPoints]] (needs a `stations` CTE in scope). */
  val MultiPointsSql: String =
    """SELECT station_id, CAST(i AS INTEGER) AS i,
      |  CAST((px + 9 * i) % 64 AS INTEGER) AS qx,
      |  CAST((py + 13 * i) % 64 AS INTEGER) AS qy
      |FROM (SELECT station_id, px, py,
      |        unnest(generate_series(0, (2 + station_id % 3) - 1)) AS i
      |      FROM stations) t""".stripMargin

  // ---- line features (r16: roads — the vector POLYLINE family) ----

  /** Road (open polyline) derivation: one polyline per customer with
    * `3 + k % 3` integer lattice vertices, vertex j at
    * `((5k + 7 + 3j) % 64, (3k + 11 + 5j) % 64)` — consecutive
    * vertices always differ (3, 5 ≢ 0 mod 64) and segments stay short
    * enough that many land wholly inside one zone. Pure arithmetic with
    * a DuckDB twin, the stations pattern.
    */
  def roadVerts(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").cast("int").as("road_id"))
      .select(col("road_id"),
        explode(expr("sequence(0, (3 + road_id % 3) - 1)")).as("j"))
      .select(col("road_id"), col("j").cast("int").as("j"),
        ((col("road_id") * 5 + 7 + col("j") * 3) % 64).cast("int").as("rx"),
        ((col("road_id") * 3 + 11 + col("j") * 5) % 64).cast("int").as("ry"))

  /** DuckDB twin of [[roadVerts]]. */
  val RoadVertsSql: String =
    """SELECT road_id, CAST(j AS INTEGER) AS j,
      |  CAST((road_id * 5 + 7 + 3 * j) % 64 AS INTEGER) AS rx,
      |  CAST((road_id * 3 + 11 + 5 * j) % 64 AS INTEGER) AS ry
      |FROM (SELECT CAST(c_custkey AS INTEGER) AS road_id,
      |        unnest(generate_series(0, (3 + CAST(c_custkey AS INTEGER) % 3) - 1)) AS j
      |      FROM customer) t""".stripMargin

  /** Zones with real WKB `BinaryType` geometry (SURVEY §1.2): assemble
    * each zone's rings into standard WKB (Polygon / MultiPolygon) via
    * the [[graft.ext.MakeWkb]] expression — runs once per zone on the
    * tiny broadcast side. The envelope columns ride along as the
    * geometry's bbox for the tile equi-join.
    */
  def wkbZones(s: SparkSession, d: String, rings: Seq[RingSpec]): DataFrame = {
    verts(s, d, rings)
      .groupBy(col("zone_id"))
      .agg(expr("make_wkb(sort_array(collect_list(struct(part, ring, i, vx, vy))))")
        .as("geom"))
      .join(zones(s, d).select("zone_id", "xmin", "xmax", "ymin", "ymax"), Seq("zone_id"))
  }
}
