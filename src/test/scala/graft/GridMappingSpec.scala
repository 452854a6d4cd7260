package graft

import org.apache.spark.sql.functions._

/** CF grid_mapping projections (r19): known-point pins, an LCC
  * forward∘inverse round trip, the single-standard-parallel variant,
  * and the dispatch refusals (unknown name, dangling reference, third
  * rotation, ellipsoidal LCC, no mapping at all).
  */
class GridMappingSpec extends SparkSuite {
  import graft.zonal.{GridMapping => GM, LevelChain, Netcdf, Raster}

  private def msgs(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("rotated pole: grid (rlon=0, rlat=0) maps to (90 - poleLat, poleLon + 180) — the CORDEX center") {
    val df = GM.cellsLonLat(spark, GM.rotatedFixturePath(), "tas")
    // rlon = -4 + 0.125x = 0 at x=32; rlat = -3 + 0.125y = 0 at y=24
    val r = df.filter(col("cell_x") === 32 && col("cell_y") === 24).head()
    assert(r.getAs[Double]("lon") == 18.0 && r.getAs[Double]("lat") == 50.75,
      s"center: ${r}")
    // OFF-MERIDIAN pin (r20 — the r19 longitude mirror): the center and
    // pole both sit on the mirror axis, so only a point with rlon != 0
    // is sensitive to the atan2 sign. Rotated (rlat 0, rlon 1) — cell
    // (x 40, y 24) — maps to lon 19.580274 E (the mirrored formula gave
    // 16.42 E), derived independently via R = Rz(λp+π)·Ry(φp−π/2)
    val off = df.filter(col("cell_x") === 40 && col("cell_y") === 24).head()
    assert(math.abs(off.getAs[Double]("lon") - 19.580274) < 1.1e-6
      && math.abs(off.getAs[Double]("lat") - 50.739321) < 1.1e-6, s"off: $off")
    // lat band from the corrected corners; lon band 11.2..23.7 (the
    // mirror read 12.3..24.8 — the band must EXCLUDE the mirrored max)
    val ex = df.agg(min("lat"), max("lat"), min("lon"), max("lon")).head()
    assert(ex.getDouble(0) > 47.0 && ex.getDouble(1) < 54.0
      && ex.getDouble(2) > 11.0 && ex.getDouble(2) < 11.5
      && ex.getDouble(3) > 23.4 && ex.getDouble(3) < 24.0, ex.toString)
  }

  test("rotated pole third rotation (npgl): the defining property and matrix-derived points") {
    import graft.zonal.{GridMapping => GM}
    def at(rlat: Double, rlon: Double): (Double, Double) = {
      val sql = LevelChain.sql(
        s"""SELECT 0 AS cell_x, 0 AS cell_y, 0.0 AS value,
           |  CAST($rlon AS DOUBLE) AS x_coord,
           |  CAST($rlat AS DOUBLE) AS y_coord""".stripMargin,
        GM.rotatedExprs(GM.Rotated(GM.PoleLat, GM.PoleLon, GM.Npgl)), "rn")
      val r = spark.sql(sql).head()
      (r.getAs[Double]("lat"), r.getAs[Double]("lon"))
    }
    // CF defining property: the TRUE north pole sits at rotated
    // (φp, npgl) — lat reaches 90 within the round-6 radius (asin at
    // its endpoint under FP)
    assert(math.abs(at(GM.PoleLat, GM.Npgl)._1 - 90.0) < 1.1e-6)
    // the npgl=0 domain center moves to rotated lon = npgl
    val c = at(0.0, GM.Npgl)
    assert(c._1 == 50.75 && c._2 == 18.0, c.toString)
    // matrix-derived off-points (R = Rz(λp+π)·Ry(φp−90°), λ'−npgl)
    val p1 = at(-23.375, -28.375)
    assert(math.abs(p1._1 - 17.833164) < 1.1e-6
      && math.abs(p1._2 - -18.770917) < 1.1e-6, p1.toString)
    val p2 = at(5.0, 12.0)
    assert(math.abs(p2._1 - 55.702187) < 1.1e-6
      && math.abs(p2._2 - 21.537303) < 1.1e-6, p2.toString)
    // the fixture dispatches through the FILE path
    val df = GM.cellsLonLat(spark, GM.rotatedNpglFixturePath(), "tas")
    val r0 = df.filter(col("cell_x") === 32 && col("cell_y") === 24).head()
    assert(math.abs(r0.getAs[Double]("lat") - 49.696417) < 1.1e-6
      && math.abs(r0.getAs[Double]("lon") - 2.427518) < 1.1e-6, r0.toString)
  }

  test("rotated pole: the published CORDEX EUR-11 SW corner (independent worked example)") {
    import graft.zonal.{GridMapping => GM}
    // rotated (rlat -23.375, rlon -28.375) under pole (39.25, -162)
    // must land at ~(21.99 N, 10.06 W) — the EUR-11 domain's published
    // south-west corner; the r19 mirrored formula put it at 46.06 E
    val sql = LevelChain.sql(
      """SELECT 0 AS cell_x, 0 AS cell_y, 0.0 AS value,
        |  CAST(-28.375 AS DOUBLE) AS x_coord,
        |  CAST(-23.375 AS DOUBLE) AS y_coord""".stripMargin,
      GM.rotatedExprs(GM.Rotated(GM.PoleLat, GM.PoleLon)), "rp")
    val r = spark.sql(sql).head()
    assert(math.abs(r.getAs[Double]("lat") - 21.987829) < 1.1e-6
      && math.abs(r.getAs[Double]("lon") - -10.06388) < 1.1e-6, r.toString)
  }

  test("lcc: the projection origin maps to (lon0, lat0); forward re-projection round-trips sub-mm") {
    val df = GM.cellsLonLat(spark, GM.lccFixturePath(), "tas")
    // x = -90000 + 3000i = 0 at i=30; y = -75000 + 3000j = 0 at j=25
    val o = df.filter(col("cell_x") === 30 && col("cell_y") === 25).head()
    assert(o.getAs[Double]("lon") == -97.0 && o.getAs[Double]("lat") == 45.0, o.toString)
    // forward LCC (Snyder spherical) over a sample of inverse outputs
    val p1 = math.toRadians(GM.LccSp1); val p2 = math.toRadians(GM.LccSp2)
    val n = math.log(math.cos(p1) / math.cos(p2)) /
      math.log(math.tan(math.Pi / 4 + p2 / 2) / math.tan(math.Pi / 4 + p1 / 2))
    val rf = GM.LccRadius * math.cos(p1) * math.pow(math.tan(math.Pi / 4 + p1 / 2), n) / n
    val rho0 = rf / math.pow(math.tan(math.Pi / 4 + math.toRadians(GM.LccLat0) / 2), n)
    val sample = df.filter(col("cell_x") % 17 === 0 && col("cell_y") % 13 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect()
    assert(sample.length > 10)
    sample.foreach { r =>
      val rho = rf / math.pow(math.tan(math.Pi / 4 + math.toRadians(r.getDouble(3)) / 2), n)
      val th = n * math.toRadians(r.getDouble(2) - GM.LccLon0)
      val x = rho * math.sin(th); val y = rho0 - rho * math.cos(th)
      // round-6 on lat/lon ≈ 0.11 m of position; the round trip must
      // land within that rounding radius
      assert(math.abs(x - r.getDouble(0)) < 0.2 && math.abs(y - r.getDouble(1)) < 0.2,
        s"round trip: ($x, $y) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
  }

  test("lcc with ONE standard parallel: n = sin(sp) and the origin still lands on (lon0, lat0)") {
    val p = graft.core.Fixture.once("nc_lcc1_8x8.nc") { f =>
      Netcdf.writeNetcdf(f, "tas", 8, 8, Netcdf.NcFloat,
        coordY = y => -12000.0 + 3000.0 * y, coordX = x => -12000.0 + 3000.0 * x,
        gridMapping = Some(("lcc", Seq(
          ("grid_mapping_name", Right("lambert_conformal_conic")),
          ("standard_parallel", Left(Seq(45.0))),
          ("longitude_of_central_meridian", Left(Seq(-97.0))),
          ("latitude_of_projection_origin", Left(Seq(45.0))),
          ("earth_radius", Left(Seq(6370000.0)))))))((x, y, _) => (x + y).toDouble)
    }
    val df = GM.cellsLonLat(spark, p, "tas")
    val o = df.filter(col("cell_x") === 4 && col("cell_y") === 4).head()
    assert(o.getAs[Double]("lon") == -97.0 && o.getAs[Double]("lat") == 45.0, o.toString)
  }

  test("refusals: unknown mapping name, third rotation, ellipsoidal LCC, no mapping") {
    def gmFile(tag: String, gm: Option[(String, Seq[(String, Either[Seq[Double], String])])]): String =
      graft.core.Fixture.once(s"nc_gm_$tag.nc") { f =>
        Netcdf.writeNetcdf(f, "tas", 4, 4, Netcdf.NcFloat,
          gridMapping = gm)((x, y, _) => (x + y).toDouble)
      }
    val unknown = gmFile("unknown", Some(("m", Seq(
      ("grid_mapping_name", Right("mercator"))))))
    val e1 = intercept[Throwable](GM.cellsLonLat(spark, unknown, "tas"))
    assert(msgs(e1).contains("mercator") && msgs(e1).contains("not implemented"), msgs(e1))

    // r20: north_pole_grid_longitude now DISPATCHES (the third
    // rotation — λ' − npgl); the dedicated test below pins its math

    // r20: unequal semi-axes now DISPATCH to the ellipsoidal LCC —
    // the refusal left is a mapping with no datum at all
    val noDatum = gmFile("nodatum", Some(("m", Seq(
      ("grid_mapping_name", Right("lambert_conformal_conic")),
      ("standard_parallel", Left(Seq(30.0, 60.0))),
      ("longitude_of_central_meridian", Left(Seq(-97.0))),
      ("latitude_of_projection_origin", Left(Seq(45.0)))))))
    val e4 = intercept[Throwable](GM.cellsLonLat(spark, noDatum, "tas"))
    assert(msgs(e4).contains("datum"), msgs(e4))

    val none = gmFile("none", None)
    val e5 = intercept[Throwable](GM.cellsLonLat(spark, none, "tas"))
    assert(msgs(e5).contains("no grid_mapping"), msgs(e5))
  }

  test("zarr + hdf5 attribute paths agree with the classic path cell-for-cell") {
    import graft.zonal.{GridMapping => GM}
    // same formula grids, three containers: any parameter misread on
    // one attribute path diverges from the others
    val nc = GM.cellsLonLat(spark, GM.rotatedFixturePath(), "tas")
      .select("cell_x", "cell_y", "lon", "lat", "value")
    val zr = GM.cellsLonLatZarr(spark, s"${GM.rotatedZarrDir()}/tas")
      .select("cell_x", "cell_y", "lon", "lat", "value")
    assert(nc.exceptAll(zr).count() == 0 && zr.exceptAll(nc).count() == 0)
    val h5 = GM.cellsLonLatHdf5(spark, GM.lccHdf5Path(), "tas")
      .select("cell_x", "cell_y", "lon", "lat", "value")
    val ncl = GM.cellsLonLat(spark, GM.lccFixturePath(), "tas")
      .select("cell_x", "cell_y", "lon", "lat", "value")
    assert(h5.exceptAll(ncl).count() == 0 && ncl.exceptAll(h5).count() == 0)
  }

  test("hdf5 rank-1 numeric attribute roundtrips: the standard_parallel pair") {
    val m = graft.zonal.Hdf5.readMeta(graft.zonal.GridMapping.lccHdf5Path(), "lcc")
    assert(m.numAttrs("standard_parallel") == Seq(30.0, 60.0), m.numAttrs.toString)
    assert(m.numAttrs("earth_radius") == Seq(6370000.0))
    assert(m.strAttrs("grid_mapping_name") == "lambert_conformal_conic")
  }

  test("zarr attribute-path refusals: dangling member and undeclared mapping") {
    import graft.zonal.{GridMapping => GM, Zarr, Raster}
    val dangling = graft.core.Fixture.once("zarr_gm_dangling") { dir =>
      Zarr.writeZarr(s"$dir/tas", 8, 8, 8, 8)((x, y) => (x + y).toDouble)
      java.nio.file.Files.write(new java.io.File(s"$dir/tas/.zattrs").toPath,
        """{"grid_mapping": "ghost"}""".getBytes("UTF-8"))
    }
    val e1 = intercept[Throwable](GM.cellsLonLatZarr(spark, s"$dangling/tas"))
    assert(msgs(e1).contains("ghost"), msgs(e1))
    val none = graft.core.Fixture.once("zarr_gm_none") { dir =>
      Zarr.writeZarr(s"$dir/tas", 8, 8, 8, 8)((x, y) => (x + y).toDouble)
    }
    val e2 = intercept[Throwable](GM.cellsLonLatZarr(spark, s"$none/tas"))
    assert(msgs(e2).contains("no grid_mapping"), msgs(e2))
  }

  test("polar stereographic: pole proximity, aspect, and forward round trip") {
    import graft.zonal.{GridMapping => GM}
    val df = GM.cellsLonLat(spark, GM.psFixturePath(), "sic")
    // the whole grid sits inside the 88.2..90 polar cap; lons wrap the
    // full normalized circle
    val ex = df.agg(min("lat"), max("lat"), min("lon"), max("lon")).head()
    assert(ex.getDouble(0) > 88.19 && ex.getDouble(1) < 90.0
      && ex.getDouble(2) >= -180.0 && ex.getDouble(3) <= 180.0, ex.toString)
    // nearest cell to the pole: (x, y) = (1000, 2000) m -> lat ~ 89.979
    val near = df.filter(col("cell_x") === 30 && col("cell_y") === 25).head()
    assert(math.abs(near.getAs[Double]("lat") - 89.9793) < 1e-3, near.toString)
    // forward re-projection round-trips within the round-6 radius
    val twoRk0 = 2.0 * GM.PsRadius * (1.0 + math.sin(math.toRadians(GM.PsSp))) / 2.0
    df.filter(col("cell_x") % 13 === 0 && col("cell_y") % 11 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val rho = twoRk0 * math.tan(math.Pi / 4 - math.toRadians(r.getDouble(3)) / 2)
        val th = math.toRadians(r.getDouble(2) - GM.PsLon0)
        val x = rho * math.sin(th); val y = -rho * math.cos(th)
        assert(math.abs(x - r.getDouble(0)) < 0.5 && math.abs(y - r.getDouble(1)) < 0.5,
          s"round trip: ($x, $y) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
      }
    // refusals: a non-pole origin, both parallel AND scale factor
    def msgs2(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val badOrigin = GM.GmAttrs("t", Map("grid_mapping_name" -> "polar_stereographic"),
      Map("latitude_of_projection_origin" -> Seq(70.0),
        "straight_vertical_longitude_from_pole" -> Seq(0.0),
        "standard_parallel" -> Seq(70.0), "earth_radius" -> Seq(6370000.0)))
    assert(msgs2(intercept[Throwable](GM.psFrom(badOrigin))).contains("pole"))
    val both = badOrigin.copy(nums = badOrigin.nums +
      ("latitude_of_projection_origin" -> Seq(90.0)) +
      ("scale_factor_at_projection_origin" -> Seq(0.97)))
    assert(msgs2(intercept[Throwable](GM.psFrom(both))).contains("exactly ONE"))
  }

  test("sinusoidal: exact latitude line, forward round trip, hdf5 twin, refusals") {
    import graft.zonal.{GridMapping => GM}
    val df = GM.cellsLonLat(spark, GM.sinuFixturePath(), "sur_refl")
    // φ = y/R exactly: row 0 sits at 3336000 m -> lat = degrees(3336000/R)
    val lat0 = math.toDegrees(3336000.0 / GM.SinuRadius)
    val r0 = df.filter(col("cell_y") === 0 && col("cell_x") === 0).head()
    assert(math.abs(r0.getAs[Double]("lat") - lat0) < 1e-6, r0.toString)
    // every cell of one row shares its latitude (the defining property)
    assert(df.filter(col("cell_y") === 7)
      .select("lat").distinct().count() == 1, "a sinusoidal row is a parallel")
    // forward re-projection x = R (λ-λ0) cos φ, y = R φ round-trips
    df.filter(col("cell_x") % 13 === 0 && col("cell_y") % 11 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val phi = math.toRadians(r.getDouble(3))
        val x = GM.SinuRadius * math.toRadians(r.getDouble(2) - GM.SinuLon0) * math.cos(phi)
        val y = GM.SinuRadius * phi
        assert(math.abs(x - r.getDouble(0)) < 0.5 && math.abs(y - r.getDouble(1)) < 0.5,
          s"round trip: ($x, $y) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
      }
    // the hdf5 attribute path agrees cell-for-cell
    val h5 = GM.cellsLonLatHdf5(spark, GM.sinuHdf5Path(), "sur_refl")
      .select("cell_x", "cell_y", "lon", "lat", "value")
    assert(h5.exceptAll(df.select("cell_x", "cell_y", "lon", "lat", "value"))
      .count() == 0, "hdf5 twin must agree with the classic path")
    // refusals: no spherical earth, missing origin longitude
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val noR = GM.GmAttrs("t", Map("grid_mapping_name" -> "sinusoidal"),
      Map("longitude_of_projection_origin" -> Seq(0.0)))
    assert(msgs(intercept[Throwable](GM.sinuFrom(noR))).contains("spherical"))
    val noLon = GM.GmAttrs("t", Map("grid_mapping_name" -> "sinusoidal"),
      Map("earth_radius" -> Seq(6371007.181)))
    assert(msgs(intercept[Throwable](GM.sinuFrom(noLon)))
      .contains("longitude_of_projection_origin"))
  }

  test("albers: equal-area forward round trip, cone constants, refusals") {
    import graft.zonal.{GridMapping => GM}
    val df = GM.cellsLonLat(spark, GM.albersFixturePath(), "landcov")
    // derived constants (the oracle's twins)
    val p1 = math.toRadians(GM.AlbSp1); val p2 = math.toRadians(GM.AlbSp2)
    val n = (math.sin(p1) + math.sin(p2)) / 2
    val c = math.cos(p1) * math.cos(p1) + 2 * n * math.sin(p1)
    val rho0 = GM.AlbRadius * math.sqrt(c - 2 * n * math.sin(math.toRadians(GM.AlbLat0))) / n
    // forward re-projection (Snyder 14-1..14-4) round-trips sub-meter
    df.filter(col("cell_x") % 13 === 0 && col("cell_y") % 11 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val rho = GM.AlbRadius * math.sqrt(
          c - 2 * n * math.sin(math.toRadians(r.getDouble(3)))) / n
        val th = n * math.toRadians(r.getDouble(2) - GM.AlbLon0)
        val x = rho * math.sin(th); val y = rho0 - rho * math.cos(th)
        assert(math.abs(x - r.getDouble(0)) < 0.5 && math.abs(y - r.getDouble(1)) < 0.5,
          s"round trip: ($x, $y) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
      }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // southern cone and missing sphere refuse
    val south = GM.GmAttrs("t", Map("grid_mapping_name" -> "albers_conical_equal_area"),
      Map("standard_parallel" -> Seq(-29.5, -45.5),
        "longitude_of_central_meridian" -> Seq(0.0),
        "latitude_of_projection_origin" -> Seq(-23.0),
        "earth_radius" -> Seq(6370997.0)))
    assert(msgs(intercept[Throwable](GM.albersFrom(south))).contains("southern"))
    val noR = GM.GmAttrs("t", Map("grid_mapping_name" -> "albers_conical_equal_area"),
      Map("standard_parallel" -> Seq(29.5, 45.5),
        "longitude_of_central_meridian" -> Seq(-96.0),
        "latitude_of_projection_origin" -> Seq(23.0),
        "semi_major_axis" -> Seq(6378137.0), "semi_minor_axis" -> Seq(6356752.3)))
    assert(msgs(intercept[Throwable](GM.albersFrom(noR))).contains("spherical"))
  }

  test("mercator: constant-latitude rows, forward round trip, exactly-one-scale rule") {
    import graft.zonal.{GridMapping => GM}
    val df = GM.cellsLonLat(spark, GM.mercFixturePath(), "sst")
    // a Mercator row is a parallel; a column is a meridian
    assert(df.filter(col("cell_y") === 9).select("lat").distinct().count() == 1)
    assert(df.filter(col("cell_x") === 9).select("lon").distinct().count() == 1)
    // forward x = R k0 (λ-λ0), y = R k0 ln tan(π/4 + φ/2) round-trips
    val rk0 = GM.MercRadius * math.cos(math.toRadians(GM.MercSp))
    df.filter(col("cell_x") % 13 === 0 && col("cell_y") % 11 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val x = rk0 * math.toRadians(r.getDouble(2) - GM.MercLon0)
        val y = rk0 * math.log(math.tan(math.Pi / 4 + math.toRadians(r.getDouble(3)) / 2))
        assert(math.abs(x - r.getDouble(0)) < 0.5 && math.abs(y - r.getDouble(1)) < 0.5,
          s"round trip: ($x, $y) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
      }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val both = GM.GmAttrs("t", Map("grid_mapping_name" -> "mercator"),
      Map("longitude_of_projection_origin" -> Seq(0.0),
        "standard_parallel" -> Seq(20.0),
        "scale_factor_at_projection_origin" -> Seq(0.94),
        "earth_radius" -> Seq(6371000.0)))
    assert(msgs(intercept[Throwable](GM.mercFrom(both))).contains("exactly ONE"))
  }

  test("transverse_mercator: CF dispatch agrees with the UTM Krüger twin; nonzero origin refuses") {
    import graft.zonal.{GridMapping => GM, Utm}
    val df = GM.cellsLonLat(spark, GM.tmFixturePath(), "dem")
    // the fixture IS UTM 18N (WGS84, 0.9996, FE 500000), so the
    // existing Utm.inverse Scala twin must agree at the round-6 radius
    df.filter(col("cell_x") % 13 === 0 && col("cell_y") % 11 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val (lon, lat) = Utm.inverse(r.getDouble(0), r.getDouble(1), -75.0)
        assert(math.abs(lon - r.getDouble(2)) < 2e-6
          && math.abs(lat - r.getDouble(3)) < 2e-6,
          s"($lon, $lat) vs (${r.getDouble(2)}, ${r.getDouble(3)})")
      }
    // forward round trip through the published forward series: sub-meter
    df.filter(col("cell_x") % 17 === 0 && col("cell_y") % 13 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val (e, n) = Utm.forward(r.getDouble(2), r.getDouble(3), -75.0)
        assert(math.abs(e - r.getDouble(0)) < 0.5 && math.abs(n - r.getDouble(1)) < 0.5,
          s"($e, $n) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
      }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val badOrigin = GM.GmAttrs("t", Map("grid_mapping_name" -> "transverse_mercator"),
      Map("longitude_of_central_meridian" -> Seq(-75.0),
        "latitude_of_projection_origin" -> Seq(40.0),
        "semi_major_axis" -> Seq(6378137.0),
        "inverse_flattening" -> Seq(298.257223563)))
    assert(msgs(intercept[Throwable](GM.tmFrom(badOrigin))).contains("meridian arc"))
    val noEllipsoid = GM.GmAttrs("t", Map("grid_mapping_name" -> "transverse_mercator"),
      Map("longitude_of_central_meridian" -> Seq(-75.0)))
    assert(msgs(intercept[Throwable](GM.tmFrom(noEllipsoid))).contains("ellipsoid"))
  }

  test("geostationary: the GOES-R PUG worked example, sub-satellite point, refusals") {
    import graft.zonal.{GridMapping => GM}
    val geos = GM.Geos(GM.GeosH, GM.GeosReq, GM.GeosRpol, GM.GeosLon0, 0.0, 0.0)
    def ll(xAng: Double, yAng: Double): (Double, Double) = {
      val sql = LevelChain.sql(
        s"""SELECT 0 AS cell_x, 0 AS cell_y, 0.0 AS value,
           |  CAST($xAng * ${GM.GeosH} AS DOUBLE) AS x_coord,
           |  CAST($yAng * ${GM.GeosH} AS DOUBLE) AS y_coord""".stripMargin,
        GM.geosExprs(geos), "g")
      val r = spark.sql(sql).head()
      (r.getAs[Double]("lon"), r.getAs[Double]("lat"))
    }
    // the PUG's published L1b worked example (GOES-East): scan angles
    // (-0.024052, 0.095340) -> 33.846162 N, 84.690932 W
    val (lonEx, latEx) = ll(-0.024052, 0.095340)
    assert(math.abs(latEx - 33.846162) < 1e-5 && math.abs(lonEx - -84.690932) < 1e-5,
      s"($lonEx, $latEx)")
    // the sub-satellite point: scan (0, 0) -> (lon0, 0)
    val (lon0, lat0) = ll(0.0, 0.0)
    assert(lon0 == GM.GeosLon0 && lat0 == 0.0, s"($lon0, $lat0)")
    // the fixture scans through the dispatch path
    val df = GM.cellsLonLat(spark, GM.geosFixturePath(), "rad")
    assert(df.count() == 60L * 50)
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // sweep y (Meteosat) and missing sweep refuse by name
    val sweepY = GM.GmAttrs("t",
      Map("grid_mapping_name" -> "geostationary", "sweep_angle_axis" -> "y"),
      Map("perspective_point_height" -> Seq(GM.GeosH),
        "semi_major_axis" -> Seq(GM.GeosReq),
        "longitude_of_projection_origin" -> Seq(0.0)))
    assert(msgs(intercept[Throwable](GM.geosFrom(sweepY))).contains("x-sweep"))
    val noSweep = sweepY.copy(strs = Map("grid_mapping_name" -> "geostationary"))
    assert(msgs(intercept[Throwable](GM.geosFrom(noSweep))).contains("sweep_angle_axis"))
  }

  test("ellipsoidal polar stereographic: EPSG-3413 worked point, Hughes fixture, forward round trip") {
    import graft.zonal.{GridMapping => GM}
    // EPSG 3413 (WGS84, true scale 70N, meridian -45): (x, y) =
    // (1 000 000, -2 000 000) m -> 69.568766 N, 18.434949 W — derived
    // with the ITERATIVE inverse (Snyder eq. 7-9, series-free), so the
    // pin is independent of the χ-series implementation under test
    val p3413 = GM.psEllFrom(GM.GmAttrs("t",
      Map("grid_mapping_name" -> "polar_stereographic"),
      Map("latitude_of_projection_origin" -> Seq(90.0),
        "straight_vertical_longitude_from_pole" -> Seq(-45.0),
        "standard_parallel" -> Seq(70.0),
        "semi_major_axis" -> Seq(6378137.0),
        "inverse_flattening" -> Seq(298.257223563))))
    def at(p: GM.PsEll, x: Double, y: Double): (Double, Double) = {
      val sql = LevelChain.sql(
        s"""SELECT 0 AS cell_x, 0 AS cell_y, 0.0 AS value,
           |  CAST($x AS DOUBLE) AS x_coord, CAST($y AS DOUBLE) AS y_coord""".stripMargin,
        GM.psEllExprs(p), "pse")
      val r = spark.sql(sql).head()
      (r.getAs[Double]("lon"), r.getAs[Double]("lat"))
    }
    val (lon1, lat1) = at(p3413, 1000000.0, -2000000.0)
    assert(math.abs(lat1 - 69.568766) < 1.1e-6 && math.abs(lon1 - -18.434949) < 1.1e-6,
      s"($lon1, $lat1)")
    // the Hughes-1980 fixture through the FILE dispatch path: cell
    // (30, 25) sits at (1000, 2000) m -> 89.979359 N, 108.434949 E
    // (iterative-inverse derived; the SPHERICAL formula would differ
    // in latitude here by ~the flattening)
    val df = GM.cellsLonLat(spark, GM.psEllFixturePath(), "sic")
    val near = df.filter(col("cell_x") === 30 && col("cell_y") === 25).head()
    assert(math.abs(near.getAs[Double]("lat") - 89.979359) < 1.1e-6
      && math.abs(near.getAs[Double]("lon") - 108.434949) < 1.1e-6, near.toString)
    // SOUTH aspect (the EPSG-3976 shape: WGS84, true scale 70S,
    // meridian 0): (1 500 000, 2 000 000) m -> 67.214773 S,
    // 36.869898 E — iterative-inverse derived, series-free
    val p3976 = GM.psEllFrom(GM.GmAttrs("t",
      Map("grid_mapping_name" -> "polar_stereographic"),
      Map("latitude_of_projection_origin" -> Seq(-90.0),
        "straight_vertical_longitude_from_pole" -> Seq(0.0),
        "standard_parallel" -> Seq(-70.0),
        "semi_major_axis" -> Seq(6378137.0),
        "inverse_flattening" -> Seq(298.257223563))))
    val (lonS, latS) = at(p3976, 1500000.0, 2000000.0)
    assert(math.abs(latS - -67.214773) < 1.1e-6 && math.abs(lonS - 36.869898) < 1.1e-6,
      s"($lonS, $latS)")
    // forward re-projection (Snyder eqs. 21-33/21-34: ρ = ρf·t(φ),
    // x = ρ sin θ, y = −ρ cos θ) round-trips inside the round-6 radius
    val f = 1.0 / GM.PsEllInvF; val e = math.sqrt(2 * f - f * f)
    val tc = math.toRadians(GM.PsSp)
    val rhoFac = GM.PsEllA * GM.snyderM(tc, e) / GM.snyderT(tc, e)
    df.filter(col("cell_x") % 13 === 0 && col("cell_y") % 11 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val rho = rhoFac * GM.snyderT(math.toRadians(r.getDouble(3)), e)
        val th = math.toRadians(r.getDouble(2) - GM.PsLon0)
        val x = rho * math.sin(th); val y = -rho * math.cos(th)
        assert(math.abs(x - r.getDouble(0)) < 0.5 && math.abs(y - r.getDouble(1)) < 0.5,
          s"round trip: ($x, $y) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
      }
  }

  test("ellipsoidal LCC: Daymet fixture pin, forward round trip, f=0 degeneracy for both families") {
    import graft.zonal.{GridMapping => GM}
    val df = GM.cellsLonLat(spark, GM.lccEllFixturePath(), "prcp")
    // cell (0, 0) = (-90000, -75000) m -> 41.786207 N, 101.135136 W
    // (iterative-inverse derived, series-free)
    val c0 = df.filter(col("cell_x") === 0 && col("cell_y") === 0).head()
    assert(math.abs(c0.getAs[Double]("lat") - 41.786207) < 1.1e-6
      && math.abs(c0.getAs[Double]("lon") - -101.135136) < 1.1e-6, c0.toString)
    // forward (ρ = aF·tⁿ, θ = n(λ−λ0)) round-trips inside round-6
    val f = 1.0 / GM.LccEllInvF; val e = math.sqrt(2 * f - f * f)
    val p1 = math.toRadians(GM.LccEllSp1); val p2 = math.toRadians(GM.LccEllSp2)
    val n = (math.log(GM.snyderM(p1, e)) - math.log(GM.snyderM(p2, e))) /
      (math.log(GM.snyderT(p1, e)) - math.log(GM.snyderT(p2, e)))
    val aF = GM.LccEllA * GM.snyderM(p1, e) / (n * math.pow(GM.snyderT(p1, e), n))
    val rho0 = aF * math.pow(GM.snyderT(math.toRadians(GM.LccEllLat0), e), n)
    df.filter(col("cell_x") % 13 === 0 && col("cell_y") % 11 === 0)
      .select("x_coord", "y_coord", "lon", "lat").collect().foreach { r =>
        val rho = aF * math.pow(GM.snyderT(math.toRadians(r.getDouble(3)), e), n)
        val th = n * math.toRadians(r.getDouble(2) - GM.LccEllLon0)
        val x = rho * math.sin(th); val y = rho0 - rho * math.cos(th)
        assert(math.abs(x - r.getDouble(0)) < 0.5 && math.abs(y - r.getDouble(1)) < 0.5,
          s"round trip: ($x, $y) vs (${r.getDouble(0)}, ${r.getDouble(1)})")
      }
    // f = 0 degeneracy: the ellipsoidal forms with e = 0 constants
    // must equal the spherical fast paths cell-for-cell (the series
    // vanishes; t(φ) becomes tan(π/4 − φ/2) = 1/tan(π/4 + φ/2))
    val grid =
      """SELECT x.id AS cell_x, y.id AS cell_y, 0.0 AS value,
        |  CAST(-149000.0 + 30000.0 * x.id AS DOUBLE) AS x_coord,
        |  CAST(-123000.0 + 30000.0 * y.id AS DOUBLE) AS y_coord
        |FROM range(0, 10) x CROSS JOIN range(0, 9) y""".stripMargin
    val zeroChi = GM.chiSeriesOf(0.0)
    val psSph = spark.sql(LevelChain.sql(grid,
      GM.psExprs(GM.PolarStereo(2.0 * 6370000.0 * 0.97, -45.0, south = false, 0.0, 0.0)), "a"))
    val psDeg = spark.sql(LevelChain.sql(grid,
      GM.psEllExprs(GM.PsEll(2.0 * 6370000.0 * 0.97, -45.0, south = false, 0.0, 0.0, zeroChi)), "b"))
    assert(psSph.select("cell_x", "cell_y", "lon", "lat")
      .exceptAll(psDeg.select("cell_x", "cell_y", "lon", "lat")).count() == 0,
      "e=0 PS ellipsoidal must equal spherical")
    val sphLcc = GM.lccFrom(GM.GmAttrs("t",
      Map("grid_mapping_name" -> "lambert_conformal_conic"),
      Map("standard_parallel" -> Seq(30.0, 60.0),
        "longitude_of_central_meridian" -> Seq(-97.0),
        "latitude_of_projection_origin" -> Seq(45.0),
        "earth_radius" -> Seq(6370000.0))))
    val ellLcc0 = GM.lccEllFrom(GM.GmAttrs("t",
      Map("grid_mapping_name" -> "lambert_conformal_conic"),
      Map("standard_parallel" -> Seq(30.0, 60.0),
        "longitude_of_central_meridian" -> Seq(-97.0),
        "latitude_of_projection_origin" -> Seq(45.0),
        "semi_major_axis" -> Seq(6370000.0),
        "inverse_flattening" -> Seq(1e15))))
    val lccSph = spark.sql(LevelChain.sql(grid, GM.lccExprs(sphLcc), "c"))
    val lccDeg = spark.sql(LevelChain.sql(grid, GM.lccEllExprs(ellLcc0), "d"))
    assert(lccSph.select("cell_x", "cell_y", "lon", "lat")
      .exceptAll(lccDeg.select("cell_x", "cell_y", "lon", "lat")).count() == 0,
      "f->0 LCC ellipsoidal must equal spherical")
  }

  test("latitude_longitude: identity mapping with the 0..360 longitude wrap") {
    import graft.zonal.{GridMapping => GM}
    val df = GM.cellsLonLat(spark, GM.latLonFixturePath(), "tas")
    // latitudes pass through untouched; 350..357.375 wraps to -10..-2.625
    val r = df.filter(col("cell_x") === 0 && col("cell_y") === 0).head()
    assert(r.getAs[Double]("lat") == -3.0 && r.getAs[Double]("lon") == -10.0, r.toString)
    val ex = df.agg(min("lon"), max("lon")).head()
    assert(ex.getDouble(0) == -10.0 && ex.getDouble(1) == -2.625, ex.toString)
  }

  test("two standard parallel values survive the classic attr parse (array attribute)") {
    val m = Netcdf.readMeta(GM.lccFixturePath())
    val gm = GM.mappingOf(GM.lccFixturePath(), m, "tas").get
    val sp = gm.attrs.find(_.name == "standard_parallel").get
    assert(sp.nums == Seq(30.0, 60.0), sp.toString)
  }
}
