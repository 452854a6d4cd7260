package graft

import org.apache.spark.sql.functions._
import graft.zonal.Cube

/** Zonal invariants (SURVEY.md §5.4) + plan-shape checks (§5.5). */
class ZonalSpec extends SparkSuite {

  test("rasterize plans as a broadcast HASH join (tile equi-join), not NLJ") {
    val plan = Cube.rasterize(Cube.cells(spark, sf), Cube.zones(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "rasterize degraded to NLJ")
  }

  test("rasterize agrees with the naive range join") {
    val cells = Cube.cells(spark, sf)
    val zones = Cube.zones(spark, sf)
    val fast = Cube.rasterize(cells, zones)
      .select("zone_id", "cell_x", "cell_y").distinct()
    val naive = cells.join(zones,
        col("cell_x").between(col("xmin"), col("xmax"))
          && col("cell_y").between(col("ymin"), col("ymax")))
      .select("zone_id", "cell_x", "cell_y").distinct()
    assert(fast.exceptAll(naive).count() == 0 && naive.exceptAll(fast).count() == 0)
  }

  test("per-zone sums over disjoint zone-cell pairs never exceed the global sum x zone count") {
    val total = Cube.cells(spark, sf).agg(sum("value")).head.getDouble(0)
    val perZone = q("zonal_stats_basic").agg(sum("sum_v")).head.getDouble(0)
    // zones overlap (general case): per-zone total can exceed global, but
    // is bounded by zones-per-cell max (each cell is in at most 4 zones
    // of 8x8 envelopes on this layout)
    assert(perZone <= total * 4 + 1e-6)
  }

  test("cells in zero zones exist (envelopes do not tile the full grid)") {
    val assigned = q("zonal_rasterize").select("cell_x", "cell_y").distinct().count()
    val allCells = Cube.cells(spark, sf).select("cell_x", "cell_y").distinct().count()
    assert(assigned < allCells, "every cell matched a zone — overlap trap not exercised")
  }

  test("categorical counts sum to basic n_cells per zone") {
    val cat = q("zonal_stats_categorical")
      .withColumn("total", col("A") + col("N") + col("R"))
      .select("zone_id", "total")
    val basic = q("zonal_stats_basic").select("zone_id", "n_cells")
    val joined = cat.join(basic, "zone_id")
      .filter(col("total") =!= col("n_cells"))
    assert(joined.count() == 0)
  }

  test("histogram bucket counts sum to n_cells per zone") {
    val hist = q("zonal_hist").groupBy("zone_id").agg(sum("n").as("total"))
    val basic = q("zonal_stats_basic").select("zone_id", "n_cells")
    assert(hist.join(basic, "zone_id").filter(col("total") =!= col("n_cells")).count() == 0)
  }

  test("polygon refinement bites: ring counts strictly inside the envelope counts") {
    val env = q("zonal_stats_basic").select(col("zone_id"), col("n_cells").as("env_n"))
    val ring = q("zonal_stats_polygon").select(col("zone_id"), col("n_cells").as("ring_n"))
    val j = env.join(ring, "zone_id")
    // never more cells than the envelope, and strictly fewer overall
    assert(j.filter(col("ring_n") > col("env_n")).count() == 0,
      "a ring contains cells outside its envelope")
    val (envT, ringT) = (j.agg(sum("env_n")).head.getLong(0), j.agg(sum("ring_n")).head.getLong(0))
    assert(ringT > 0 && ringT < envT,
      s"polygon refinement did not bite: ring=$ringT envelope=$envT")
  }

  test("polygon hole bites: ring-minus-hole counts strictly below the ring counts") {
    val ring = q("zonal_stats_polygon").select(col("zone_id"), col("n_cells").as("ring_n"))
    val holed = q("zonal_stats_polygon_hole").select(col("zone_id"), col("n_cells").as("hole_n"))
    val j = ring.join(holed, "zone_id")
    assert(j.filter(col("hole_n") > col("ring_n")).count() == 0,
      "a holed zone contains cells its ring does not")
    val (r, h) = (j.agg(sum("ring_n")).head.getLong(0), j.agg(sum("hole_n")).head.getLong(0))
    assert(h > 0 && h < r, s"hole did not bite: holed=$h ring=$r")
  }

  test("coverage weights: fractional cell area, bounded by the ring cell count") {
    val ring = q("zonal_stats_polygon").select(col("zone_id"), col("n_cells"))
    val cov = q("zonal_stats_coverage")
    val j = cov.join(ring, "zone_id")
    // covered area in cells can exceed the count of CENTER-inside cells
    // only by boundary cells; it must stay within the envelope-level
    // rasterized cell count and be positive
    assert(j.filter(col("cov_cells") <= 0).count() == 0)
    val env = q("zonal_stats_basic").select(col("zone_id"), col("n_cells").as("env_n"))
    assert(cov.join(env, "zone_id").filter(col("cov_cells") > col("env_n")).count() == 0)
    // fractional: at least one zone's coverage is NOT an integer cell
    // count (boundary cells partially covered)
    assert(cov.filter(col("cov_cells") =!= col("cov_cells").cast("long").cast("double"))
      .count() > 0, "no fractional coverage anywhere — supersampling not biting")
  }

  test("WKB zones: valid structure (Polygon/MultiPolygon headers, closed rings, hole count)") {
    def firstGeom(rings: Seq[Cube.RingSpec], zid: Int): Array[Byte] =
      Cube.wkbZones(spark, sf, rings).filter(col("zone_id") === zid)
        .select("geom").head.getAs[Array[Byte]](0)
    def le32(b: Array[Byte], off: Int): Int =
      java.nio.ByteBuffer.wrap(b, off, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    // even zone → Polygon (type 3) with 2 rings (outer + hole)
    val holed = firstGeom(Cube.NGonRings, 2)
    assert(holed(0) == 1 && le32(holed, 1) == 3, "expected LE WKB Polygon")
    assert(le32(holed, 5) == 2, "even zone should carry the hole ring")
    // odd zone → Polygon with 1 ring
    val plain = firstGeom(Cube.NGonRings, 3)
    assert(le32(plain, 5) == 1, "odd zone should have no hole")
    // outer ring closed: numPts = n + 1 with n = 5 + zid % 4
    assert(le32(plain, 9) == (5 + 3 % 4) + 1, "outer ring not closed per spec")
    // multipolygon: type 6, 2 parts
    val multi = firstGeom(Cube.MultiRings, 1)
    assert(multi(0) == 1 && le32(multi, 1) == 6 && le32(multi, 5) == 2,
      "expected LE WKB MultiPolygon with 2 parts")
  }

  test("point_in_wkb ≡ crossing parity over the unnested vertex table (both families)") {
    val pts = spark.range(64).selectExpr("CAST(id AS INT) AS gx")
      .crossJoin(spark.range(64).selectExpr("CAST(id AS INT) AS gy"))
    Seq(Cube.NGonRings, Cube.MultiRings).foreach { rings =>
      // composed spelling: join every grid point to every ring edge and
      // take the crossing-count parity — the oracle's exact formulation
      val v = Cube.verts(spark, sf, rings)
      val edges = v.as("v1").join(v.as("v2"),
          col("v1.zone_id") === col("v2.zone_id") && col("v1.part") === col("v2.part")
            && col("v1.ring") === col("v2.ring")
            && col("v2.i") === (col("v1.i") + 1) % col("v1.n"))
        .select(col("v1.zone_id"), col("v1.vx").as("x1"), col("v1.vy").as("y1"),
          col("v2.vx").as("x2"), col("v2.vy").as("y2"))
      val parity = pts.crossJoin(edges)
        .groupBy("zone_id", "gx", "gy")
        .agg(sum(expr(
          """CASE WHEN ((y1 > gy) <> (y2 > gy))
            |  AND (((y2 - y1) > 0 AND ((x2 - x1) * (gy - y1) - (gx - x1) * (y2 - y1)) > 0)
            |    OR ((y2 - y1) < 0 AND ((x2 - x1) * (gy - y1) - (gx - x1) * (y2 - y1)) < 0))
            |THEN 1 ELSE 0 END""".stripMargin)).as("cr"))
        .select(col("zone_id"), col("gx"), col("gy"), (col("cr") % 2 === 1).as("slow"))
      val viaWkb = Cube.wkbZones(spark, sf, rings).select("zone_id", "geom")
        .crossJoin(pts)
        .select(col("zone_id"), col("gx"), col("gy"),
          expr("point_in_wkb(gx, gy, geom)").as("fast"))
      val diff = viaWkb.join(parity, Seq("zone_id", "gx", "gy"))
        .filter(col("fast") =!= col("slow"))
      assert(diff.count() == 0, "point_in_wkb diverges from the unnested parity")
    }
  }

  test("n-gon refinement bites and multipolygon parts are disjoint unions") {
    val env = q("zonal_stats_basic").select(col("zone_id"), col("n_cells").as("env_n"))
    val ngon = q("zonal_stats_polygon_n").select(col("zone_id"), col("n_cells").as("ngon_n"))
    val j = env.join(ngon, "zone_id")
    assert(j.filter(col("ngon_n") > col("env_n")).count() == 0,
      "an n-gon contains cells outside its envelope")
    val (e, g) = (j.agg(sum("env_n")).head.getLong(0), j.agg(sum("ngon_n")).head.getLong(0))
    assert(g > 0 && g < e, s"n-gon refinement did not bite: ngon=$g env=$e")
    // multipolygon counts = sum of the two parts measured separately
    def partCount(part: Int) = {
      val one = Cube.MultiRings.filter(_.part == part).map(_.copy(part = 0))
      Cube.rasterize(Cube.cells(spark, sf), Cube.wkbZones(spark, sf, one))
        .filter(expr("point_in_wkb(cell_x, cell_y, geom)"))
        .groupBy("zone_id").agg(count(lit(1)).as(s"n$part"))
    }
    val both = q("zonal_stats_multipolygon").select(col("zone_id"), col("n_cells"))
      .join(partCount(0), Seq("zone_id"), "left").join(partCount(1), Seq("zone_id"), "left")
      .select(col("zone_id"), col("n_cells"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L))).as("n_sum"))
    assert(both.filter(col("n_cells") =!= col("n_sum")).count() == 0,
      "multipolygon parity is not the disjoint union of its parts")
  }

  test("zonal_percentile_approx: sketch value sits at the right RANK per zone") {
    // The GK sketch returns an actual data value (nearest rank), while
    // Spark's exact `percentile` INTERPOLATES between order statistics —
    // on small zones the two definitions legitimately diverge by the
    // inter-value gap, so comparing VALUES is mis-specified (the round-4
    // red test). The sketch's contract is about RANK: with accuracy a,
    // the returned value's rank is within n/a of ceil(p*n). Assert that.
    val approx = q("zonal_percentile_approx")
    val vals = Cube.rasterize(Cube.cells(spark, sf), Cube.zones(spark, sf))
      .groupBy(col("zone_id"))
      .agg(sort_array(collect_list(col("value"))).as("vals"))
    val j = approx.join(vals, Seq("zone_id"))
      .select(col("zone_id"), col("quantile_ix"), col("approx_v"),
        size(col("vals")).cast("double").as("n"),
        size(expr("filter(vals, x -> x < approx_v)")).cast("double").as("lo"),
        size(expr("filter(vals, x -> x <= approx_v)")).cast("double").as("hi"))
    // approx_v occupies ranks (lo, hi]; target rank is p*n; the sketch
    // guarantees rank error <= n/accuracy (+1 rank of discreteness slack)
    val offRank = j
      .withColumn("target", (col("quantile_ix") + 1) * lit(0.25) * col("n"))
      .withColumn("tol", col("n") / lit(10000.0) + lit(1.0))
      .filter(!(col("lo") + 1 <= col("target") + col("tol") &&
                col("hi") >= col("target") - col("tol")))
    assert(offRank.count() == 0,
      s"sketch rank outside tolerance:\n${offRank.limit(5).collect().mkString("\n")}")
    // nearest-rank semantics: the sketch must return a value that exists
    // in the zone's multiset, never an interpolated midpoint
    assert(j.filter(col("hi") === col("lo")).count() == 0,
      "approx_v is not a member of the zone's value multiset")
    assert(approx.count() == vals.count() * 3, "missing (zone, quantile) rows")
  }

  test("zonal_stats_coverage_exact brackets the supersampled estimate") {
    val exact = q("zonal_stats_coverage_exact")
    val sampled = q("zonal_stats_coverage")
      .select(col("zone_id"), col("cov_cells").as("cov_sampled"))
    val j = exact.join(sampled, Seq("zone_id"))
    // both variants weight by cell MULTIPLICITY (one row per lineitem),
    // so compare multiplicity-weighted area to multiplicity-weighted
    // sample count: the 4×4 supersample only mis-classifies subcells the
    // ring boundary crosses — a few % of a zone's mass — plus slack for
    // low-multiplicity zones
    val off = j.filter(abs(col("cov_cells_exact") - col("cov_sampled"))
      > col("cov_sampled") * 0.05 + 1.0)
    assert(off.count() == 0,
      s"exact vs sampled coverage diverge:\n${off.limit(5).collect().mkString("\n")}")
    // per-row area is ≤ 1 cell, so weighted area ≤ covered-row count;
    // and a surviving zone has positive area by the HAVING gate
    val bad = exact.filter(col("cov_cells_exact") > col("n_cov")
      || col("cov_cells_exact") <= 0.0)
    assert(bad.count() == 0, "cov_cells_exact out of bounds")
  }

  test("zonal_skew: salted two-stage aggregation shape, giant zone present") {
    val df = q("zonal_skew")
    val rows = df.collect()
    // the giant zone saw every cell
    val total = Cube.cells(spark, sf).count()
    assert(rows.find(_.getAs[Any]("zone_id").toString == "99")
      .exists(_.getAs[Long]("n_cells") == total), "global zone missing or wrong count")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("salt"), s"salt key absent from the plan:\n${p.take(2000)}")
    // two aggregation stages: (zone, salt) partial+final, then (zone)
    // partial+final ⇒ ≥ 4 HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected two-stage salted aggregation:\n${p.take(2000)}")
  }

  test("pyramid levels are consistent: every level sums to the cube total") {
    val pyr = q("zonal_pyramid").collect()
    val total = Cube.cells(spark, sf).count()
    (0 to 3).foreach { l =>
      val lv = pyr.filter(_.getInt(0) == l)
      assert(lv.map(_.getAs[Long]("n_cells")).sum == total, s"level $l loses cells")
    }
    assert(pyr.count(_.getInt(0) == 0) == 1 && pyr.count(_.getInt(0) == 3) == 64)
  }

  test("geojson zones: identical to the arithmetic WKB path; fractional coords raise") {
    val viaJson = q("zonal_geojson").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val viaWkb = q("zonal_stats_polygon_n").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(viaJson.toSeq == viaWkb.toSeq, "GeoJSON pipeline diverges from make_wkb pipeline")
    // fractional coordinates fail inside the plan, never truncate
    val tmp = java.nio.file.Files.createTempDirectory("graft_geojson").toString
    val bad = s"$tmp/bad.geojson"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      ("""{"type": "FeatureCollection", "features": [""" +
        """{"type": "Feature", "properties": {"zone_id": 1}, "geometry": {"type": "Polygon", """ +
        """"coordinates": [[[0.5, 0], [4, 0], [4, 4], [0.5, 0]]]}}]}""").getBytes)
    val e = intercept[Exception](graft.zonal.GeoJson.readZones(spark, bad).collect())
    assert(e.getMessage != null && e.getMessage.contains("fractional"))
    // a shape-compatible NON-Polygon type must raise, not silently parse
    // (the guard is folded into the coordinate expression — a
    // free-standing check column gets pruned by the optimizer)
    val ls = s"$tmp/ls.geojson"
    java.nio.file.Files.write(java.nio.file.Paths.get(ls),
      ("""{"type": "FeatureCollection", "features": [""" +
        """{"type": "Feature", "properties": {"zone_id": 1}, "geometry": {"type": "LineString", """ +
        """"coordinates": [[[0, 0], [4, 0], [4, 4], [0, 0]]]}}]}""").getBytes)
    val e2 = intercept[Exception](graft.zonal.GeoJson.readZones(spark, ls).collect())
    assert(e2.getMessage != null && e2.getMessage.contains("Polygon"))
    graft.core.Fs.rmTree(tmp)
  }

  test("geojson sink roundtrip: line-delimited features parse back to the same geometry") {
    q("sink_geojson").collect() // materializes the GeoJSONSeq directory
    val sfName = new java.io.File(sf).getName
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_io/$sfName/sink_geojson"
    val zones = graft.zonal.GeoJson.readZonesSeq(spark, out)
    val viaSink = graft.zonal.Cube.rasterize(graft.zonal.Cube.cells(spark, sf), zones)
      .filter(org.apache.spark.sql.functions.expr("point_in_wkb(cell_x, cell_y, geom)"))
      .groupBy(org.apache.spark.sql.functions.col("zone_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_cells"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = q("zonal_stats_polygon_n").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(viaSink == direct, "geometry did not survive the GeoJSON write-read roundtrip")
  }

  test("shapefile reader pinned on hand-built bytes; fractional coordinate fails loudly") {
    // bytes built INDEPENDENTLY of Shapefile.writeFixture (the oracle
    // gate covers the writer+reader pair; this covers the reader alone):
    // one Polygon record, 4-vertex square + 4-vertex hole, rings closed
    val tmp = java.nio.file.Files.createTempDirectory("graft_shp").toString
    def write(p: String, b: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(p), b)
    def buildShp(frac: Boolean): String = {
      val content = java.nio.ByteBuffer.allocate(212)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      content.putInt(5) // Polygon
      content.putDouble(0).putDouble(0).putDouble(4).putDouble(4)
      content.putInt(2).putInt(10) // 2 rings, 10 closed points
      content.putInt(0).putInt(5)  // part offsets
      val pts = Seq((0, 0), (4, 0), (4, 4), (0, 4), (0, 0),
        (1, 1), (1, 2), (2, 2), (2, 1), (1, 1))
      pts.foreach { case (x, y) =>
        content.putDouble(if (frac && x == 4 && y == 4) 4.5 else x.toDouble)
        content.putDouble(y.toDouble)
      }
      val shp = java.nio.ByteBuffer.allocate(320) // BIG_ENDIAN default
      shp.putInt(0, 9994); shp.putInt(24, 160)
      shp.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      shp.putInt(28, 1000); shp.putInt(32, 5)
      shp.order(java.nio.ByteOrder.BIG_ENDIAN)
      shp.position(100); shp.putInt(1).putInt(106) // record 1, 106 words
      shp.put(content.array())
      val shx = java.nio.ByteBuffer.allocate(108)
      shx.putInt(0, 9994); shx.putInt(24, 54)
      shx.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      shx.putInt(28, 1000); shx.putInt(32, 5)
      shx.order(java.nio.ByteOrder.BIG_ENDIAN)
      shx.position(100); shx.putInt(50).putInt(106) // header at byte 100 = word 50
      val name = if (frac) "frac" else "ok"
      write(s"$tmp/$name.shp", shp.array()); write(s"$tmp/$name.shx", shx.array())
      s"$tmp/$name.shp"
    }
    val verts = graft.zonal.Shapefile.readVerts(spark, buildShp(frac = false)).collect()
      .map(r => (r.getInt(0), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toSet
    assert(verts == Set((0, 0, 0, 0, 0), (0, 0, 1, 4, 0), (0, 0, 2, 4, 4), (0, 0, 3, 0, 4),
      (0, 1, 0, 1, 1), (0, 1, 1, 1, 2), (0, 1, 2, 2, 2), (0, 1, 3, 2, 1)),
      s"parsed vertices wrong: $verts")
    val e = intercept[Throwable](
      graft.zonal.Shapefile.readVerts(spark, buildShp(frac = true)).collect())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(e).contains("fractional"), s"wanted the lattice guard, got: ${msgs(e)}")
    graft.core.Fs.rmTree(tmp)
  }

  test("readZonesSeq surfaces feature properties as columns") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gjseq").toString
    val lines = (0 until 3).map { z =>
      s"""{"type":"Feature","properties":{"zone_id":$z,"name":"z$z","pop":${100 + z}},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/zones.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val zones = graft.zonal.GeoJson.readZonesSeq(spark, s"$tmp/zones.jsonl")
    assert(zones.columns.toSet == Set("zone_id", "geom", "xmin", "xmax", "ymin", "ymax",
      "name", "pop"), s"columns: ${zones.columns.mkString(",")}")
    val rows = zones.orderBy("zone_id").collect()
    assert(rows.map(r => (r.getInt(0), r.getAs[String]("name"), r.getAs[Long]("pop"))).toSeq
      == Seq((0, "z0", 100L), (1, "z1", 101L), (2, "z2", 102L)),
      s"properties wrong: ${rows.mkString(";")}")
    graft.core.Fs.rmTree(tmp)
  }

  test("exact quantiles survive continuous values: correct + narrow resolve pass") {
    import org.apache.spark.sql.functions._
    // 50k DISTINCT doubles in one zone (the case where the round-6
    // counting window degenerated into a per-zone sort of ~all cells),
    // plus an all-equal zone (degenerate zmin == zmax span)
    val n = 50000
    val cells = spark.range(n).select(
        lit(0).as("zone_id"),
        (sin(col("id").cast("double")) * 1000).as("value"))
      .union(spark.range(100).select(lit(1).as("zone_id"), lit(7.25).as("value")))
    val got = graft.zonal.Zonal.exactQuantilesByBucket(cells,
        Seq((0.25, "p25"), (0.50, "p50"), (0.75, "p75")))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // naive truth: k-th smallest at rank ceil(q·n) (the lower-quantile rule)
    val vals = (0 until n).map(i => math.sin(i.toDouble) * 1000).sorted
    def q(p: Double) = vals(math.ceil(n * p).toInt - 1)
    assert(got(0) == ((n.toLong, q(0.25), q(0.50), q(0.75))),
      s"continuous-zone quantiles wrong: ${got(0)}")
    assert(got(1) == ((100L, 7.25, 7.25, 7.25)), s"all-equal zone wrong: ${got(1)}")
    // the SHAPE claim: the resolve pass is narrow — every histogram
    // bucket holds ≪ n rows, so no per-(zone, q) window ever sees the
    // full multiset (the round-6 plan put all 50k distinct values
    // through one zone's window)
    val nb = 256
    val zstats = cells.groupBy("zone_id").agg(
      min(col("value")).as("zmin"), max(col("value")).as("zmax"))
    val hist = graft.zonal.Zonal.withBuckets(cells, zstats, nb)
      .groupBy("zone_id", "bucket").count().collect()
    val maxBucket = hist.map(_.getLong(2)).max
    assert(hist.count(_.getInt(0) == 0) <= nb, "more buckets than nb")
    // sin() concentrates mass at the arcsine-distribution edges; even so
    // every bucket must stay two orders below the zone's row count
    assert(maxBucket < n / 16,
      s"bucket histogram not narrow: max bucket $maxBucket of $n rows")
  }

  test("dbf reader pinned on hand-built bytes: types, nulls, deleted records") {
    // bytes built INDEPENDENTLY of Shapefile.writeDbfFixture (the oracle
    // gate covers the writer+reader pair; this covers the reader alone):
    // 3 records over all five dBASE types, record 2 deleted, record 3
    // all-blank fields (→ nulls)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dbf").toString
    val fields = Seq(("TAG", 'C', 6, 0), ("CNT", 'N', 5, 0),
      ("RATIO", 'N', 8, 2), ("ON", 'L', 1, 0), ("DAY", 'D', 8, 0))
    val recSize = 1 + fields.map(_._3).sum
    val headSize = 32 + 32 * fields.length + 1
    val b = java.nio.ByteBuffer.allocate(headSize + 3 * recSize + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(0x03.toByte).put(24.toByte).put(1.toByte).put(1.toByte)
    b.putInt(3).putShort(headSize.toShort).putShort(recSize.toShort)
    b.position(32)
    fields.foreach { case (n, t, len, dec) =>
      val fb = new Array[Byte](32)
      n.getBytes("US-ASCII").copyToArray(fb)
      fb(11) = t.toByte; fb(16) = len.toByte; fb(17) = dec.toByte
      b.put(fb)
    }
    b.put(0x0D.toByte)
    b.put((" " + "alpha " + "   42" + "   -3.50" + "T" + "20240229").getBytes("US-ASCII"))
    b.put(("*" + "gone  " + "    9" + "    1.00" + "F" + "20240101").getBytes("US-ASCII"))
    b.put((" " + "      " + "     " + "        " + "?" + "        ").getBytes("US-ASCII"))
    b.put(0x1A.toByte)
    val p = s"$tmp/attrs.dbf"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), b.array())
    val rows = graft.zonal.Shapefile.readAttrs(spark, p)
      .orderBy("rec_no").collect()
    assert(rows.length == 2, s"deleted record not dropped: ${rows.mkString(";")}")
    val r1 = rows(0)
    assert(r1.getInt(0) == 1 && r1.getString(1) == "alpha" && r1.getLong(2) == 42L
      && r1.getDouble(3) == -3.5 && r1.getBoolean(4)
      && r1.getDate(5).toString == "2024-02-29", s"record 1 wrong: $r1")
    val r3 = rows(1)
    assert(r3.getInt(0) == 3 && (1 to 5).forall(r3.isNullAt),
      s"blank/'?' fields should all be null: $r3")
    // a truncated file and a bad version byte both fail loudly
    val bad = b.array().clone(); bad(0) = 0x04
    val pBad = s"$tmp/bad.dbf"
    java.nio.file.Files.write(java.nio.file.Paths.get(pBad), bad)
    val e2 = intercept[IllegalArgumentException](
      graft.zonal.Shapefile.readDbfHeader(pBad))
    assert(e2.getMessage.contains("version"), e2.getMessage)
    graft.core.Fs.rmTree(tmp)
  }

  test("raster_polygonize: donut mask yields a hole ring; pinch mask keeps rings separate") {
    import spark.implicits._
    // 3×3 donut: 8 cells around a missing center → exactly one outer
    // ring (4 corners, positive area) and one hole ring (4 corners,
    // negative area); net shoelace = 2 × 8 cells
    val donut = Seq((0L, 0L), (1L, 0L), (2L, 0L), (0L, 1L), (2L, 1L),
        (0L, 2L), (1L, 2L), (2L, 2L)).toDF("cx", "cy")
    val dr = graft.zonal.Polygonize.polygonizeMask(donut, 10L).collect()
    assert(dr.length == 2, s"donut: ${dr.length} rings")
    val outer = dr.filter(!_.getBoolean(dr.head.fieldIndex("is_hole")))
    val holes = dr.filter(_.getBoolean(dr.head.fieldIndex("is_hole")))
    assert(outer.length == 1 && holes.length == 1)
    assert(outer.head.getLong(outer.head.fieldIndex("area2")) == 18L) // 2 × 9
    assert(holes.head.getLong(holes.head.fieldIndex("area2")) == -2L) // −2 × 1
    assert(dr.map(_.getLong(dr.head.fieldIndex("area2"))).sum == 16L) // 2 × 8 cells
    assert(outer.head.getInt(outer.head.fieldIndex("n_vertices")) == 4)
    assert(holes.head.getInt(holes.head.fieldIndex("n_vertices")) == 4)
    // outer ring is ring_seq 1 (the WKB/GeoJSON exterior-first contract)
    assert(!dr.minBy(_.getInt(dr.head.fieldIndex("ring_seq")))
      .getBoolean(dr.head.fieldIndex("is_hole")))

    // diagonal pinch: cells (1,1) and (2,2) touch only at corner (2,2),
    // connected around via a C-shape that surrounds (2,1). Foreground
    // 4-connectivity implies BACKGROUND 8-connectivity (the Jordan-
    // consistent pairing, GDAL's connectedness=4 default), so the
    // surrounded cell escapes diagonally through the pinch corner and
    // is NOT a hole: the rightmost-turn rule yields ONE ring that
    // visits the pinch corner twice, net area still 2 × cell count
    val pinch = Seq((1L, 1L), (2L, 2L), (1L, 0L), (2L, 0L), (3L, 0L),
        (3L, 1L), (3L, 2L)).toDF("cx", "cy")
    val pr = graft.zonal.Polygonize.polygonizeMask(pinch, 10L).collect()
    assert(pr.forall(_.getLong(0) == pr.head.getLong(0)), "pinch: one region")
    assert(pr.length == 1, s"pinch: ${pr.length} rings (background-8 fuses them)")
    val p0 = pr.head
    assert(!p0.getBoolean(p0.fieldIndex("is_hole")))
    assert(p0.getLong(p0.fieldIndex("area2")) == 14L) // 2 × 7 cells
    assert(p0.getInt(p0.fieldIndex("n_vertices")) == 10)
    // the pinch corner 2,2 appears TWICE in the traversal
    val verts = p0.getString(p0.fieldIndex("ring_wkt")).split(",")
    assert(verts.count(_ == "2 2") == 2, s"ring: ${verts.mkString("|")}")
  }

  test("raster_polygonize: labels and rings agree — one outer ring per region, net area = cell count") {
    val rings = graft.zonal.Polygonize.polygonize(spark).collect()
    assert(rings.nonEmpty)
    val labels = q("raster_region_label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byRegion = rings.groupBy(_.getLong(0))
    // ring regions are EXACTLY the labeled regions
    assert(byRegion.keySet == labels.keySet,
      s"ring/label region mismatch: ${byRegion.keySet.size} vs ${labels.keySet.size}")
    byRegion.foreach { case (reg, rs) =>
      val outer = rs.filterNot(_.getBoolean(rs.head.fieldIndex("is_hole")))
      assert(outer.length == 1, s"region $reg: ${outer.length} outer rings")
      // the clockwise-outer / counterclockwise-hole convention makes the
      // NET shoelace area (outer positive, holes negative) equal the
      // region's exact cell count — the label↔ring consistency identity
      val net2 = rs.map(r => r.getLong(r.fieldIndex("area2"))).sum
      assert(net2 == 2 * labels(reg),
        s"region $reg: net area2 $net2 != 2 × ${labels(reg)} cells")
      // rings are simplified: every vertex is a true corner, so vertex
      // counts are even (alternating horizontal/vertical unit runs) and
      // at least 4
      rs.foreach { r =>
        val nv = r.getInt(r.fieldIndex("n_vertices"))
        assert(nv >= 4 && nv % 2 == 0, s"region $reg ring: $nv vertices")
      }
    }
  }

  test("geojson snap ingest: scale 1 recovers jittered integers; scale 8 keeps sub-cell detail") {
    import java.nio.file.Files
    // a hand-written float FeatureCollection: a unit-ish square whose
    // vertices carry eighth-cell offsets — round-half-up at each scale
    val tmp = Files.createTempDirectory("graft_snap").toFile
    val f = new java.io.File(tmp, "z.geojson")
    val json =
      """{"type": "FeatureCollection", "features": [
        |  {"type": "Feature", "properties": {"zone_id": 1},
        |   "geometry": {"type": "Polygon", "coordinates":
        |     [[[0.125, 0.375], [4.125, 0.375], [4.125, 3.875], [0.125, 3.875], [0.125, 0.375]]]}}]}"""
        .stripMargin
    Files.writeString(f.toPath, json)
    // scale 1: every coordinate rounds to the nearest whole cell
    val z1 = graft.zonal.GeoJson.readZonesSnap(spark, f.getPath, 1L).collect().head
    assert((z1.getInt(z1.fieldIndex("xmin")), z1.getInt(z1.fieldIndex("xmax")),
        z1.getInt(z1.fieldIndex("ymin")), z1.getInt(z1.fieldIndex("ymax")))
      == ((0, 4, 0, 4)), s"scale-1 bbox: $z1")
    // scale 8: the eighth-cell offsets survive exactly (×8 lattice)
    val z8 = graft.zonal.GeoJson.readZonesSnap(spark, f.getPath, 8L).collect().head
    assert((z8.getInt(z8.fieldIndex("xmin")), z8.getInt(z8.fieldIndex("xmax")),
        z8.getInt(z8.fieldIndex("ymin")), z8.getInt(z8.fieldIndex("ymax")))
      == ((1, 33, 3, 31)), s"scale-8 bbox: $z8")
    // the registered op's fixture jitter stays below the half-cell snap
    // radius, so the snapped WKB equals the strict reader's on the
    // exact fixture — byte-for-byte, not just statistically
    val d = sf
    val strict = graft.zonal.GeoJson.readZones(spark,
      graft.zonal.GeoJson.fixturePath(spark, d))
      .select("zone_id", "geom").collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val snapped = graft.zonal.GeoJson.readZonesSnap(spark,
      graft.zonal.GeoJson.floatFixturePath(spark, d))
      .select("zone_id", "geom").collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(strict.keySet == snapped.keySet)
    strict.foreach { case (z, wkb) =>
      assert(snapped(z) == wkb, s"zone $z: snapped WKB diverges from strict WKB")
    }
  }

  test("geojson snap ingest: a MultiPolygon feature is refused by NAME before any coordinate parse") {
    import java.nio.file.Files
    // a MultiPolygon nests coordinates one level deeper, so the inferred
    // JSON schema changes and (pre-r11) the pipeline died on a confusing
    // analysis/schema error instead of the intended message
    val tmp = Files.createTempDirectory("graft_snap_mp").toFile
    val f = new java.io.File(tmp, "mp.geojson")
    Files.writeString(f.toPath,
      """{"type": "FeatureCollection", "features": [
        |  {"type": "Feature", "properties": {"zone_id": 1},
        |   "geometry": {"type": "MultiPolygon", "coordinates":
        |     [[[[0.1, 0.1], [2.1, 0.1], [2.1, 2.1], [0.1, 0.1]]]]}}]}""".stripMargin)
    val e = intercept[IllegalArgumentException](
      graft.zonal.GeoJson.readZonesSnap(spark, f.getPath, 1L))
    assert(e.getMessage.contains("MultiPolygon") && e.getMessage.contains("Polygon"),
      s"want the named geometry-type refusal, got: ${e.getMessage}")
  }

  test("events ts normalization refuses a non-UTC session loudly") {
    // the NTZ→TIMESTAMP cast is instant-preserving only under UTC; a
    // zoned session must fail by name, not silently shift every event
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException](
        graft.core.Tables.events(spark, sf))
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    // and the restored UTC session reads normally
    assert(graft.core.Tables.events(spark, sf).count() > 0)
  }
}
