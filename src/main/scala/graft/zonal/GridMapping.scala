package graft.zonal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixture, Q}

/** CF `grid_mapping` projections on the cube paths (r19 — VERDICT r18
  * next-#3): the NetCDF/HDF5/Zarr worlds georeference non-lat/lon grids
  * through a grid-mapping VARIABLE (CF Conventions §5.6 + Appendix F)
  * named by the data variable's `grid_mapping` attribute. Six mappings
  * dispatch — rotated_latitude_longitude (CORDEX),
  * lambert_conformal_conic (WRF/NWP), polar_stereographic (NSIDC
  * sea-ice), sinusoidal (MODIS), albers_conical_equal_area (USGS/NLCD)
  * and mercator (ocean models) — all closed-form spherical inverses
  * under one discipline. The first two in detail:
  *
  *  - `rotated_latitude_longitude` (CORDEX): the grid's pole is moved
  *    to (grid_north_pole_latitude, grid_north_pole_longitude); the
  *    inverse (rotated → true) is the closed-form spherical rotation
  *      φ = asin(sin φ' sin φp + cos φ' cos φp cos λ')
  *      λ = λp − atan2(cos φ' sin λ', sin φ' cos φp − cos φ' sin φp cos λ')
  *    (checks: rotated pole (90, ·) → (φp, λp); grid center (0, 0) →
  *    (90 − φp, λp + 180) — the CORDEX EUR-11 placement; the MINUS on
  *    the atan2 is load-bearing: with a plus, every off-meridian cell
  *    mirrors east/west about the λp+180 meridian — r19 shipped that
  *    mirror and the shared-expression oracle could not see it; r20
  *    fixed it and pinned the independently-derived EUR-11 corner
  *    (rotated (−23.375, −28.375) → 21.99 N, −10.06 E) in
  *    GridMappingSpec, verified against a rotation-matrix derivation
  *    R = Rz(λp + π)·Ry(φp − π/2)).
  *  - `lambert_conformal_conic` (WRF): spherical LCC per the published
  *    Snyder 1987 closed forms (eqs. 14-1..15-5, spherical case),
  *    cone constant n from the two standard parallels (or n = sin φ1
  *    for one), F, ρ0 precomputed driver-side to full double precision
  *    and embedded as round-trippable literals (the Utm.scala
  *    coefficient discipline):
  *      ρ = √(x² + (ρ0 − y)²), θ = atan2(x, ρ0 − y)
  *      φ = 2 atan((RF/ρ)^(1/n)) − π/2, λ = λ0 + θ/n
  *
  * Both are pure per-cell closed-form projections: codegen'd math over
  * the stripe scan, no shuffle added; zone assignment stays a broadcast
  * interval join in degree space — at 100 TB the cell side never
  * shuffles (the zonal_raster_utm posture). Every mapping is a level
  * list run by [[LevelChain]]: the oracle nests the levels as SELECTs,
  * and the Spark chain adds only a non-null declaration of `lon`/`lat`,
  * so the zone join infers no `isnotnull` filter that would inline the
  * levels back into it (the geostationary and TM plans grew to 3,000+
  * expression nodes that way). Outputs round at 6 decimals
  * per the transcendental discipline; the pole/cone constants embed as
  * shortest-repr double literals so Spark and DuckDB evaluate the
  * IDENTICAL expression tree.
  *
  * Dispatch discipline (the r18 GeoKey pattern): parameters are READ
  * FROM THE FILE (a mapping the file doesn't declare is never assumed),
  * a `grid_mapping` attribute naming a missing variable refuses, an
  * unknown `grid_mapping_name` refuses BY NAME, a rotated mapping with
  * a nonzero `north_pole_grid_longitude` (a third rotation this engine
  * doesn't speak) refuses, and an LCC without a spherical earth
  * (`earth_radius`, or equal semi-axes) refuses rather than silently
  * running the spherical math on an ellipsoidal grid.
  */
object GridMapping {

  // ---- parameter extraction from the classic-NetCDF header ----

  import Netcdf.{NcMeta, NcVar}

  /** The grid-mapping variable of `varName`, if declared. */
  def mappingOf(path: String, m: NcMeta, varName: String): Option[NcVar] = {
    val v = m.vars.find(_.name == varName).getOrElse(
      sys.error(s"$path: no variable $varName"))
    v.attrs.find(_.name == "grid_mapping").map { a =>
      val gm = a.text.trim
      m.vars.find(_.name == gm).getOrElse(sys.error(
        s"$path: $varName declares grid_mapping '$gm' but no such variable exists — " +
          "refusing to guess a projection"))
    }
  }

  /** Format-agnostic attribute view of a grid-mapping container (r19):
    * the classic-NetCDF attr list, a Zarr member's `.zattrs`, and an
    * HDF5 member's attribute messages all validate through ONE path.
    */
  final case class GmAttrs(where: String, strs: Map[String, String],
      nums: Map[String, Seq[Double]]) {
    def str(name: String): Option[String] = strs.get(name).map(_.trim)
    def num1(name: String): Option[Double] = nums.get(name).map(_.head)
    def mappingName: String = str("grid_mapping_name").getOrElse(
      sys.error(s"$where: grid-mapping container has no grid_mapping_name"))
  }

  private[zonal] def gmAttrsOf(path: String, gm: NcVar): GmAttrs =
    GmAttrs(s"$path:${gm.name}",
      gm.attrs.filter(_.ncType == Netcdf.NcChar).map(a => a.name -> a.text).toMap,
      gm.attrs.filter(a => a.nums.nonEmpty || !a.num.isNaN)
        .map(a => a.name -> (if (a.nums.nonEmpty) a.nums else Seq(a.num))).toMap)

  private def num(a: GmAttrs, name: String): Double =
    a.num1(name).getOrElse(sys.error(
      s"${a.where}: grid mapping lacks required parameter $name"))

  /** `npgl` (r20 — `north_pole_grid_longitude`, previously a named
    * refusal): the true north pole's longitude IN THE ROTATED SYSTEM —
    * the third rotation is the substitution λ' → λ' − npgl before the
    * two-angle unrotation (verified against the matrix derivation
    * R = Rz(λp+π)·Ry(φp−90°)·, with the defining property rotated
    * (φp, npgl) → the true pole pinned in GridMappingSpec).
    */
  final case class Rotated(poleLat: Double, poleLon: Double,
      npgl: Double = 0.0)
  final case class Lcc(n: Double, rf: Double, rho0: Double, lon0Deg: Double,
      fe: Double, fn: Double)
  /** Spherical polar stereographic (r19): `south` flips the aspect;
    * `twoRk0` = 2·R·k0 with k0 = (1 + sin φts)/2 from the standard
    * parallel, or the declared scale_factor_at_projection_origin.
    */
  final case class PolarStereo(twoRk0: Double, lon0Deg: Double,
      south: Boolean, fe: Double, fn: Double)
  /** Spherical sinusoidal (r19 — the MODIS grid): equal-area,
    * φ = y/R, λ = λ0 + x/(R cos φ).
    */
  final case class Sinu(r: Double, lon0Deg: Double, fe: Double, fn: Double)
  /** Spherical Albers equal-area conic (r19 — the USGS/NLCD CONUS
    * projection): cone constant n = (sin φ1 + sin φ2)/2,
    * C = cos²φ1 + 2n sin φ1, ρ0 = R√(C − 2n sin φ0)/n.
    */
  final case class Albers(n: Double, c: Double, r: Double, rho0: Double,
      lon0Deg: Double, fe: Double, fn: Double)
  /** Spherical Mercator (r19 — ocean-model grids): `rk0` = R·k0 with
    * k0 = cos φts from the standard parallel, or the declared
    * scale_factor_at_projection_origin.
    */
  final case class Merc(rk0: Double, lon0Deg: Double, fe: Double, fn: Double)
  /** Ellipsoidal transverse Mercator (r19 — dispatches to the Krüger
    * series in Utm.scala with coefficients from the DECLARED ellipsoid).
    */
  final case class Tm(a: Double, f: Double, k0: Double, lon0Deg: Double,
      fe: Double, fn: Double)
  /** Geostationary fixed grid (r19 — the GOES-R ABI projection): `h` =
    * perspective height above the ellipsoid, ellipsoidal by nature.
    */
  final case class Geos(h: Double, req: Double, rpol: Double,
      lon0Deg: Double, fe: Double, fn: Double)
  /** The χ → φ inverse series (Snyder 1987 eq. 3-5), shared by the
    * ellipsoidal conformal inverses (PS + LCC): coefficients depend
    * only on e², precomputed driver-side and embedded as literals
    * (the Utm.scala Krüger coefficient discipline). Exact to ~1e-11
    * rad for earth flattenings — far inside the round-6 radius.
    */
  final case class ChiSeries(a2: Double, a4: Double, a6: Double, a8: Double) {
    def sql(chi: String): String =
      s"$chi + $a2 * sin(2 * $chi) + $a4 * sin(4 * $chi) + " +
        s"$a6 * sin(6 * $chi) + $a8 * sin(8 * $chi)"
  }
  def chiSeriesOf(e2: Double): ChiSeries = {
    val e4 = e2 * e2; val e6 = e4 * e2; val e8 = e4 * e4
    ChiSeries(
      e2 / 2 + 5 * e4 / 24 + e6 / 12 + 13 * e8 / 360,
      7 * e4 / 48 + 29 * e6 / 240 + 811 * e8 / 11520,
      7 * e6 / 120 + 81 * e8 / 1120,
      4279 * e8 / 161280)
  }
  /** Ellipsoidal polar stereographic (r20 — the grids the mapping
    * EXISTS for: NSIDC EPSG 3411 on Hughes 1980, EPSG 3413/3976 on
    * WGS84): t = ρ/ρf with ρf = a·m_c/t_c (true scale at the standard
    * parallel, Snyder eq. 21-40) or 2·a·k0/√((1+e)^(1+e)·(1−e)^(1−e))
    * (declared scale factor, eq. 21-39); χ = π/2 − 2·atan t; φ via
    * the χ series.
    */
  final case class PsEll(rhoFac: Double, lon0Deg: Double, south: Boolean,
      fe: Double, fn: Double, chi: ChiSeries)
  /** Ellipsoidal Lambert conformal conic (r20 — Daymet, NWP products):
    * Snyder eqs. 15-1..15-11 with m(φ), t(φ); the same χ series closes
    * the inverse.
    */
  final case class LccEll(n: Double, aF: Double, rho0: Double,
      lon0Deg: Double, fe: Double, fn: Double, chi: ChiSeries)

  /** Snyder's m(φ) = cos φ/√(1 − e²sin²φ) (eq. 14-15). */
  def snyderM(phi: Double, e: Double): Double =
    math.cos(phi) / math.sqrt(1 - e * e * math.sin(phi) * math.sin(phi))
  /** Snyder's t(φ) = tan(π/4 − φ/2)/((1 − e sin φ)/(1 + e sin φ))^(e/2)
    * (eq. 15-9).
    */
  def snyderT(phi: Double, e: Double): Double =
    math.tan(math.Pi / 4 - phi / 2) /
      math.pow((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)), e / 2)

  /** The DECLARED ellipsoid (a, f) when it has genuine flattening:
    * semi_major_axis plus inverse_flattening or an UNEQUAL
    * semi_minor_axis. earth_radius / equal semi-axes / a lone
    * semi_major_axis stay the sphere (the pre-r20 paths).
    */
  private[zonal] def declaredEllipsoid(a: GmAttrs): Option[(Double, Double)] =
    a.num1("semi_major_axis").flatMap { maj =>
      a.num1("inverse_flattening").filter(_ != 0.0).map(invf => (maj, 1.0 / invf))
        .orElse(a.num1("semi_minor_axis").filter(_ != maj).map(b => (maj, (maj - b) / maj)))
    }

  /** Rotated-pole parameters, with the named refusals. */
  def rotatedParams(path: String, gm: NcVar): Rotated =
    rotatedFrom(gmAttrsOf(path, gm))

  def rotatedFrom(a: GmAttrs): Rotated =  {
    val name = a.mappingName
    require(name == "rotated_latitude_longitude",
      s"${a.where}: grid_mapping_name '$name' where rotated_latitude_longitude expected")
    Rotated(num(a, "grid_north_pole_latitude"),
      num(a, "grid_north_pole_longitude"),
      a.num1("north_pole_grid_longitude").getOrElse(0.0))
  }

  /** Spherical-LCC derived constants, with the named refusals. */
  def lccParams(path: String, gm: NcVar): Lcc =
    lccFrom(gmAttrsOf(path, gm))

  def lccFrom(a: GmAttrs): Lcc = {
    val name = a.mappingName
    require(name == "lambert_conformal_conic",
      s"${a.where}: grid_mapping_name '$name' where lambert_conformal_conic expected")
    val r = a.num1("earth_radius").orElse {
      (a.num1("semi_major_axis"), a.num1("semi_minor_axis")) match {
        case (Some(x), Some(b)) if x == b => Some(x)
        case (Some(x), None) => sys.error(
          s"${a.where}: lambert_conformal_conic declares a lone " +
            s"semi_major_axis ($x) — an ellipsoid's equatorial radius, not " +
            "a sphere; declare earth_radius or add inverse_flattening/" +
            "semi_minor_axis")
        case _ => None
      }
    }.getOrElse(sys.error(
      s"${a.where}: lambert_conformal_conic declares neither a spherical " +
        "earth (earth_radius / equal semi-axes) nor an ellipsoid " +
        "(semi_major_axis + inverse_flattening / semi_minor_axis) — " +
        "refusing to guess a datum"))
    val sps = a.nums.getOrElse("standard_parallel",
      sys.error(s"${a.where}: lambert_conformal_conic lacks standard_parallel"))
    require(sps.length == 1 || sps.length == 2,
      s"${a.where}: standard_parallel wants 1 or 2 values, got ${sps.length}")
    val lon0 = num(a, "longitude_of_central_meridian")
    val lat0 = num(a, "latitude_of_projection_origin")
    val fe = a.num1("false_easting").getOrElse(0.0)
    val fn = a.num1("false_northing").getOrElse(0.0)
    val p1 = math.toRadians(sps.head)
    val p2 = math.toRadians(sps.last)
    val n =
      if (sps.length == 1 || sps.head == sps.last) math.sin(p1)
      else math.log(math.cos(p1) / math.cos(p2)) /
        math.log(math.tan(math.Pi / 4 + p2 / 2) / math.tan(math.Pi / 4 + p1 / 2))
    require(n > 0,
      s"${a.where}: southern-cone LCC (n = $n) — not implemented, refusing")
    val f = math.cos(p1) * math.pow(math.tan(math.Pi / 4 + p1 / 2), n) / n
    val rf = r * f
    val rho0 = rf / math.pow(math.tan(math.Pi / 4 + math.toRadians(lat0) / 2), n)
    Lcc(n, rf, rho0, lon0, fe, fn)
  }

  /** Spherical polar-stereographic constants (Snyder 1987 eqs.
    * 20-14..21-15, spherical case), with the named refusals: exactly
    * one of standard_parallel / scale_factor_at_projection_origin, a
    * ±90 origin, a spherical earth.
    */
  def psFrom(a: GmAttrs): PolarStereo = {
    val name = a.mappingName
    require(name == "polar_stereographic",
      s"${a.where}: grid_mapping_name '$name' where polar_stereographic expected")
    val r = sphereRadius(a, "polar_stereographic")
    val lat0 = num(a, "latitude_of_projection_origin")
    require(lat0 == 90.0 || lat0 == -90.0,
      s"${a.where}: polar_stereographic origin must be a pole, got $lat0")
    val south = lat0 < 0
    val lon0 = num(a, "straight_vertical_longitude_from_pole")
    val sp = a.num1("standard_parallel")
    val k0a = a.num1("scale_factor_at_projection_origin")
    require(sp.isDefined != k0a.isDefined,
      s"${a.where}: want exactly ONE of standard_parallel / " +
        "scale_factor_at_projection_origin")
    val k0 = k0a.getOrElse {
      val ts = sp.get
      require(south == (ts < 0),
        s"${a.where}: standard_parallel $ts is in the wrong hemisphere for origin $lat0")
      (1.0 + math.sin(math.toRadians(math.abs(ts)))) / 2.0
    }
    PolarStereo(2.0 * r * k0, lon0,
      south, a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0))
  }

  /** Ellipsoidal polar-stereographic constants (r20 — Snyder 1987 eqs.
    * 21-39/21-40 + 3-5). Dispatched when the file declares a genuine
    * ellipsoid; shares the spherical validations (pole origin,
    * exactly-one scale rule, hemisphere check).
    */
  def psEllFrom(a: GmAttrs): PsEll = {
    val name = a.mappingName
    require(name == "polar_stereographic",
      s"${a.where}: grid_mapping_name '$name' where polar_stereographic expected")
    val (ax, f) = declaredEllipsoid(a).getOrElse(sys.error(
      s"${a.where}: psEllFrom wants a declared ellipsoid"))
    val e = math.sqrt(2 * f - f * f)
    val lat0 = num(a, "latitude_of_projection_origin")
    require(lat0 == 90.0 || lat0 == -90.0,
      s"${a.where}: polar_stereographic origin must be a pole, got $lat0")
    val south = lat0 < 0
    val lon0 = num(a, "straight_vertical_longitude_from_pole")
    val sp = a.num1("standard_parallel")
    val k0a = a.num1("scale_factor_at_projection_origin")
    require(sp.isDefined != k0a.isDefined,
      s"${a.where}: want exactly ONE of standard_parallel / " +
        "scale_factor_at_projection_origin")
    val rhoFac = k0a match {
      case Some(k0) =>
        2.0 * ax * k0 /
          math.sqrt(math.pow(1 + e, 1 + e) * math.pow(1 - e, 1 - e))
      case None =>
        val ts = sp.get
        require(south == (ts < 0),
          s"${a.where}: standard_parallel $ts is in the wrong hemisphere for origin $lat0")
        val tc = math.toRadians(math.abs(ts))
        ax * snyderM(tc, e) / snyderT(tc, e)
    }
    PsEll(rhoFac, lon0, south, a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0), chiSeriesOf(e * e))
  }

  /** Ellipsoidal-LCC derived constants (r20 — Snyder 1987 eqs.
    * 15-1..15-11): n from ln m/ln t over the two standard parallels
    * (n = sin φ1 for one), F = m1/(n·t1ⁿ), ρ0 = a·F·t(φ0)ⁿ.
    */
  def lccEllFrom(a: GmAttrs): LccEll = {
    val name = a.mappingName
    require(name == "lambert_conformal_conic",
      s"${a.where}: grid_mapping_name '$name' where lambert_conformal_conic expected")
    val (ax, f) = declaredEllipsoid(a).getOrElse(sys.error(
      s"${a.where}: lccEllFrom wants a declared ellipsoid"))
    val e = math.sqrt(2 * f - f * f)
    val sps = a.nums.getOrElse("standard_parallel",
      sys.error(s"${a.where}: lambert_conformal_conic lacks standard_parallel"))
    require(sps.length == 1 || sps.length == 2,
      s"${a.where}: standard_parallel wants 1 or 2 values, got ${sps.length}")
    val p1 = math.toRadians(sps.head)
    val p2 = math.toRadians(sps.last)
    val n =
      if (sps.length == 1 || sps.head == sps.last) math.sin(p1)
      else (math.log(snyderM(p1, e)) - math.log(snyderM(p2, e))) /
        (math.log(snyderT(p1, e)) - math.log(snyderT(p2, e)))
    require(n > 0,
      s"${a.where}: southern-cone LCC (n = $n) — not implemented, refusing")
    val bigF = snyderM(p1, e) / (n * math.pow(snyderT(p1, e), n))
    val aF = ax * bigF
    val lat0 = num(a, "latitude_of_projection_origin")
    val rho0 = aF * math.pow(snyderT(math.toRadians(lat0), e), n)
    LccEll(n, aF, rho0, num(a, "longitude_of_central_meridian"),
      a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0), chiSeriesOf(e * e))
  }

  /** Transverse-Mercator parameters (CF Appendix F), with the named
    * refusals: a nonzero latitude_of_projection_origin needs the
    * meridian-arc northing offset this dispatch doesn't add.
    */
  def tmFrom(a: GmAttrs): Tm = {
    val name = a.mappingName
    require(name == "transverse_mercator",
      s"${a.where}: grid_mapping_name '$name' where transverse_mercator expected")
    val (ax, f) = a.num1("earth_radius") match {
      case Some(r) => (r, 0.0)
      case None =>
        val maj = a.num1("semi_major_axis").getOrElse(sys.error(
          s"${a.where}: transverse_mercator lacks an ellipsoid " +
            "(semi_major_axis + inverse_flattening/semi_minor_axis, or earth_radius)"))
        val f = a.num1("inverse_flattening").map(1.0 / _).orElse(
          a.num1("semi_minor_axis").map(b => (maj - b) / maj)).getOrElse(sys.error(
          s"${a.where}: transverse_mercator lacks inverse_flattening/semi_minor_axis"))
        (maj, f)
    }
    val lat0 = a.num1("latitude_of_projection_origin").getOrElse(0.0)
    require(lat0 == 0.0,
      s"${a.where}: latitude_of_projection_origin $lat0 — the nonzero-origin " +
        "northing offset (meridian arc) is not implemented; refusing rather " +
        "than shifting every cell")
    Tm(ax, f,
      a.num1("scale_factor_at_central_meridian").getOrElse(1.0),
      num(a, "longitude_of_central_meridian"),
      a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0))
  }

  /** Geostationary parameters (CF Appendix F), with the named
    * refusals: sweep_angle_axis must be declared and "x" (the GOES-R
    * convention this inverse implements; Meteosat's "y" sweep refuses
    * by name), and the ellipsoid must be explicit.
    */
  def geosFrom(a: GmAttrs): Geos = {
    val name = a.mappingName
    require(name == "geostationary",
      s"${a.where}: grid_mapping_name '$name' where geostationary expected")
    val sweep = a.str("sweep_angle_axis").getOrElse(sys.error(
      s"${a.where}: geostationary lacks sweep_angle_axis — GOES declares x, " +
        "Meteosat y; refusing to guess"))
    require(sweep == "x",
      s"${a.where}: sweep_angle_axis '$sweep' — only the GOES-R x-sweep " +
        "inverse is implemented; refusing rather than transposing every cell")
    val req = a.num1("semi_major_axis").orElse(a.num1("earth_radius"))
      .getOrElse(sys.error(
        s"${a.where}: geostationary lacks semi_major_axis/earth_radius"))
    val rpol = a.num1("semi_minor_axis").getOrElse(req)
    Geos(num(a, "perspective_point_height"), req, rpol,
      num(a, "longitude_of_projection_origin"),
      a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0))
  }

  /** A spherical earth from the attrs, or the named ellipsoid refusal.
    * A LONE semi_major_axis refuses (r20 code review): it is an
    * ellipsoid's equatorial radius with the flattening omitted —
    * treating it as a sphere silently mislabels every cell by up to
    * the flattening (km-scale at high latitudes).
    */
  private def sphereRadius(a: GmAttrs, what: String): Double =
    a.num1("earth_radius").orElse {
      (a.num1("semi_major_axis"), a.num1("semi_minor_axis")) match {
        case (Some(x), Some(b)) if x == b => Some(x)
        case (Some(x), None) => sys.error(
          s"${a.where}: $what declares a lone semi_major_axis ($x) — that " +
            "is an ellipsoid's equatorial radius, not a sphere; declare " +
            "earth_radius (sphere) or add inverse_flattening/semi_minor_axis " +
            "(ellipsoid) rather than running spherical math on it")
        case _ => None
      }
    }.getOrElse(sys.error(
      s"${a.where}: $what without a spherical earth (earth_radius, or " +
        "equal semi-axes) — the ellipsoidal inverse is not implemented; " +
        "refusing rather than running spherical math on it"))

  /** Sinusoidal parameters (CF Appendix F), with the named refusals:
    * a spherical earth (MODIS declares R = 6371007.181) and the
    * projection-origin longitude.
    */
  def sinuFrom(a: GmAttrs): Sinu = {
    val name = a.mappingName
    require(name == "sinusoidal",
      s"${a.where}: grid_mapping_name '$name' where sinusoidal expected")
    Sinu(sphereRadius(a, "sinusoidal"), num(a, "longitude_of_projection_origin"),
      a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0))
  }

  /** Albers equal-area conic derived constants (Snyder 1987 eqs.
    * 14-3..14-6 spherical), with the named refusals: a spherical earth
    * and a northern cone (n > 0).
    */
  def albersFrom(a: GmAttrs): Albers = {
    val name = a.mappingName
    require(name == "albers_conical_equal_area",
      s"${a.where}: grid_mapping_name '$name' where albers_conical_equal_area expected")
    val r = sphereRadius(a, "albers_conical_equal_area")
    val sps = a.nums.getOrElse("standard_parallel",
      sys.error(s"${a.where}: albers_conical_equal_area lacks standard_parallel"))
    require(sps.length == 1 || sps.length == 2,
      s"${a.where}: standard_parallel wants 1 or 2 values, got ${sps.length}")
    val p1 = math.toRadians(sps.head)
    val p2 = math.toRadians(sps.last)
    val n = (math.sin(p1) + math.sin(p2)) / 2
    require(n > 0,
      s"${a.where}: southern-cone Albers (n = $n) — not implemented, refusing")
    val c = math.cos(p1) * math.cos(p1) + 2 * n * math.sin(p1)
    val lat0 = num(a, "latitude_of_projection_origin")
    val rho0 = r * math.sqrt(c - 2 * n * math.sin(math.toRadians(lat0))) / n
    Albers(n, c, r, rho0, num(a, "longitude_of_central_meridian"),
      a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0))
  }

  /** Mercator parameters, with the named refusals: a spherical earth
    * and exactly ONE of standard_parallel /
    * scale_factor_at_projection_origin (the polar-stereographic rule).
    */
  def mercFrom(a: GmAttrs): Merc = {
    val name = a.mappingName
    require(name == "mercator",
      s"${a.where}: grid_mapping_name '$name' where mercator expected")
    val r = sphereRadius(a, "mercator")
    val sp = a.num1("standard_parallel")
    val k0a = a.num1("scale_factor_at_projection_origin")
    require(sp.isDefined != k0a.isDefined,
      s"${a.where}: want exactly ONE of standard_parallel / " +
        "scale_factor_at_projection_origin")
    val k0 = k0a.getOrElse(math.cos(math.toRadians(sp.get)))
    Merc(r * k0, num(a, "longitude_of_projection_origin"),
      a.num1("false_easting").getOrElse(0.0),
      a.num1("false_northing").getOrElse(0.0))
  }

  // ---- the shared SQL (identical text on both engines) ----

  /** Unrotate `(x_coord = rlon deg, y_coord = rlat deg)` → lon/lat.
    * Pole sin/cos embed as full-precision literals; the longitude
    * normalizes into (−180, 180] BEFORE the round-6.
    */
  def rotatedExprs(p: Rotated): Seq[Seq[String]] = {
    val sinP = math.sin(math.toRadians(p.poleLat))
    val cosP = math.cos(math.toRadians(p.poleLat))
    val lRad = math.toRadians(p.poleLon)
    // the third rotation (r20): λ' − npgl before the unrotation; the
    // npgl = 0 text stays byte-identical to the two-angle form
    val xn = if (p.npgl == 0.0) "x_coord" else s"(x_coord - ${p.npgl})"
    Seq(
      Seq("*",
        "sin(radians(y_coord)) AS srl", "cos(radians(y_coord)) AS crl",
        s"sin(radians($xn)) AS srn", s"cos(radians($xn)) AS crn"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"degrees(asin(srl * $sinP + crl * $cosP * crn)) AS lat_raw",
        s"degrees($lRad - atan2(crl * srn, srl * $cosP - crl * $sinP * crn)) AS lon_raw"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** Spherical-LCC inverse over `(x_coord, y_coord)` projection meters. */
  def lccExprs(p: Lcc): Seq[Seq[String]] = {
    val invN = 1.0 / p.n
    val lon0Rad = math.toRadians(p.lon0Deg)
    Seq(
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"CAST(x_coord - ${p.fe} AS DOUBLE) AS px",
        s"CAST(${p.rho0} - (y_coord - ${p.fn}) AS DOUBLE) AS py"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "sqrt(px * px + py * py) AS rho", "atan2(px, py) AS theta"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"round(degrees(2 * atan(pow(${p.rf} / rho, $invN)) - 1.5707963267948966), 6) AS lat",
        s"round(degrees($lon0Rad + theta * $invN), 6) AS lon"))
  }

  /** Spherical polar-stereographic inverse over projection meters:
    * north aspect φ = 90 − 2·atan(ρ/2Rk0)·(180/π), λ = λ0 + atan2(x, −y);
    * south flips both signs. Longitude normalizes before the round-6.
    */
  def psExprs(p: PolarStereo): Seq[Seq[String]] = {
    val lon0Rad = math.toRadians(p.lon0Deg)
    val sgn = if (p.south) -1 else 1
    Seq(
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"CAST(x_coord - ${p.fe} AS DOUBLE) AS px",
        s"CAST(y_coord - ${p.fn} AS DOUBLE) AS py"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"degrees($sgn * (1.5707963267948966 - " +
          s"2 * atan(sqrt(px * px + py * py) / ${p.twoRk0}))) AS lat_raw",
        s"degrees($lon0Rad + atan2(px, ${if (p.south) "py" else "-py"})) AS lon_raw"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** Ellipsoidal polar-stereographic inverse over projection meters
    * (r20): t = ρ/ρf, χ = π/2 − 2·atan t, φ = χ + series (Snyder
    * eqs. 21-39/21-40 + 3-5); longitude identical to the spherical
    * aspect rule. South flips signs exactly as the spherical form.
    */
  def psEllExprs(p: PsEll): Seq[Seq[String]] = {
    val lon0Rad = math.toRadians(p.lon0Deg)
    val sgn = if (p.south) -1 else 1
    val base = Seq("cell_x", "cell_y", "x_coord", "y_coord", "value")
    Seq(
      base ++ Seq(
        s"CAST(x_coord - ${p.fe} AS DOUBLE) AS px",
        s"CAST(y_coord - ${p.fn} AS DOUBLE) AS py"),
      base ++ Seq("px", "py",
        s"1.5707963267948966 - 2 * atan(sqrt(px * px + py * py) / ${p.rhoFac}) AS chi"),
      base ++ Seq(
        s"degrees($sgn * (${p.chi.sql("chi")})) AS lat_raw",
        s"degrees($lon0Rad + atan2(px, ${if (p.south) "py" else "-py"})) AS lon_raw"),
      base ++ Seq(
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** Ellipsoidal-LCC inverse over projection meters (r20): ρ, θ as the
    * spherical form; t = (ρ/aF)^(1/n), χ = π/2 − 2·atan t, φ = χ +
    * series, λ = λ0 + θ/n (Snyder eqs. 15-1..15-11 inverted + 3-5).
    */
  def lccEllExprs(p: LccEll): Seq[Seq[String]] = {
    val invN = 1.0 / p.n
    val lon0Rad = math.toRadians(p.lon0Deg)
    val base = Seq("cell_x", "cell_y", "x_coord", "y_coord", "value")
    Seq(
      base ++ Seq(
        s"CAST(x_coord - ${p.fe} AS DOUBLE) AS px",
        s"CAST(${p.rho0} - (y_coord - ${p.fn}) AS DOUBLE) AS py"),
      base ++ Seq("sqrt(px * px + py * py) AS rho", "atan2(px, py) AS theta"),
      base ++ Seq("theta",
        s"1.5707963267948966 - 2 * atan(pow(rho / ${p.aF}, $invN)) AS chi"),
      base ++ Seq(
        s"degrees(${p.chi.sql("chi")}) AS lat_raw",
        s"degrees($lon0Rad + theta * $invN) AS lon_raw"),
      base ++ Seq(
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** Spherical sinusoidal inverse over projection meters: φ = y/R,
    * λ = λ0 + x/(R cos φ). Longitude normalizes before the round-6.
    */
  def sinuExprs(p: Sinu): Seq[Seq[String]] = {
    val lon0Rad = math.toRadians(p.lon0Deg)
    Seq(
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"CAST(x_coord - ${p.fe} AS DOUBLE) AS px",
        s"CAST((y_coord - ${p.fn}) / ${p.r} AS DOUBLE) AS phi"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "degrees(phi) AS lat_raw",
        s"degrees($lon0Rad + px / (${p.r} * cos(phi))) AS lon_raw"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** Spherical Albers inverse over projection meters (Snyder eqs.
    * 14-10/14-11): ρ = √(x² + (ρ0−y)²), θ = atan2(x, ρ0−y),
    * φ = asin((C − (ρn/R)²)/(2n)), λ = λ0 + θ/n.
    */
  def albersExprs(p: Albers): Seq[Seq[String]] = {
    val invN = 1.0 / p.n
    val lon0Rad = math.toRadians(p.lon0Deg)
    val nOverR = p.n / p.r
    Seq(
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"CAST(x_coord - ${p.fe} AS DOUBLE) AS px",
        s"CAST(${p.rho0} - (y_coord - ${p.fn}) AS DOUBLE) AS py"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"sqrt(px * px + py * py) * $nOverR AS rhon", "atan2(px, py) AS theta"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"degrees(asin((${p.c} - rhon * rhon) / ${2 * p.n})) AS lat_raw",
        s"degrees($lon0Rad + theta * $invN) AS lon_raw"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** Spherical Mercator inverse over projection meters:
    * φ = 2·atan(exp(y/(R·k0))) − π/2, λ = λ0 + x/(R·k0).
    */
  def mercExprs(p: Merc): Seq[Seq[String]] = {
    val lon0Rad = math.toRadians(p.lon0Deg)
    Seq(
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        s"CAST((x_coord - ${p.fe}) / ${p.rk0} AS DOUBLE) AS px",
        s"CAST((y_coord - ${p.fn}) / ${p.rk0} AS DOUBLE) AS py"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "degrees(2 * atan(exp(py)) - 1.5707963267948966) AS lat_raw",
        s"degrees($lon0Rad + px) AS lon_raw"),
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** The `latitude_longitude` IDENTITY mapping (CF's explicit
    * no-projection declaration): coordinates ARE degrees — only the
    * longitude convention normalizes (CF files commonly carry 0..360
    * longitudes; zones live in (−180, 180]).
    */
  def latLonExprs: Seq[Seq[String]] = Seq(
    Seq("cell_x", "cell_y", "x_coord", "y_coord", "value",
      "round(y_coord, 6) AS lat",
      "round(CASE WHEN x_coord > 180 THEN x_coord - 360 " +
        "WHEN x_coord <= -180 THEN x_coord + 360 ELSE x_coord END, 6) AS lon"))

  /** Geostationary inverse over projection meters (the GOES-R PUG
    * closed forms — scan angles = coords / h, line-of-sight quadratic,
    * geodetic latitude via req²/rpol²): exact against the PUG's
    * published worked example (x = −0.024052, y = 0.095340 →
    * 33.846162°N, 84.690932°W on GOES-East).
    */
  def geosExprs(p: Geos): Seq[Seq[String]] = {
    val k = p.req * p.req / (p.rpol * p.rpol)
    val bigH = p.h + p.req
    val cQ = bigH * bigH - p.req * p.req
    val lon0Rad = math.toRadians(p.lon0Deg)
    val base = Seq("cell_x", "cell_y", "x_coord", "y_coord", "value")
    Seq(
      base ++ Seq(
        s"sin((x_coord - ${p.fe}) / ${p.h}) AS snx",
        s"cos((x_coord - ${p.fe}) / ${p.h}) AS csx",
        s"sin((y_coord - ${p.fn}) / ${p.h}) AS sny",
        s"cos((y_coord - ${p.fn}) / ${p.h}) AS csy"),
      base ++ Seq("snx", "csx", "sny", "csy",
        s"snx * snx + csx * csx * (csy * csy + $k * sny * sny) AS aq",
        s"-2 * $bigH * csx * csy AS bq"),
      base ++ Seq("snx", "csx", "sny", "csy",
        s"(-bq - sqrt(bq * bq - 4 * aq * $cQ)) / (2 * aq) AS rs"),
      base ++ Seq(
        "rs * csx * csy AS sx", "-(rs * snx) AS sy", "rs * csx * sny AS sz"),
      base ++ Seq(
        s"degrees(atan($k * sz / sqrt(($bigH - sx) * ($bigH - sx) + sy * sy))) AS lat_raw",
        s"degrees($lon0Rad - atan(sy / ($bigH - sx))) AS lon_raw"),
      base ++ Seq(
        "round(lat_raw, 6) AS lat",
        "round(CASE WHEN lon_raw > 180 THEN lon_raw - 360 " +
          "WHEN lon_raw <= -180 THEN lon_raw + 360 ELSE lon_raw END, 6) AS lon"))
  }

  /** Per-cell lon/lat of a grid-mapped classic-NetCDF cube, dispatching
    * on the FILE's declared grid_mapping_name (the zonal_raster_crs_auto
    * posture): a pure map-side projection over the DSv2 face, whose
    * `coords` option reads the file's x/y coordinate variables.
    */
  def cellsLonLat(s: SparkSession, path: String, varName: String): DataFrame = {
    val m = Netcdf.readMeta(path)
    val gm = mappingOf(path, m, varName).getOrElse(sys.error(
      s"$path: $varName declares no grid_mapping — refusing to assume a projection"))
    val name = gm.attrs.find(_.name == "grid_mapping_name").map(_.text.trim)
      .getOrElse(sys.error(s"$path: ${gm.name} has no grid_mapping_name"))
    LevelChain(
      s.read.format("graft.zonal.NetcdfSource")
        .option("var", varName).option("coords", "x,y").load(path),
      levelsFor(gmAttrsOf(path, gm)))
  }

  private def levelsFor(a: GmAttrs): Seq[Seq[String]] = a.mappingName match {
    case "rotated_latitude_longitude" => rotatedExprs(rotatedFrom(a))
    // PS + LCC dispatch on the DECLARED datum (r20): a genuine
    // ellipsoid takes the Snyder ellipsoidal series, a sphere keeps
    // the closed spherical fast path — the real NSIDC (EPSG 3411/3413)
    // and Daymet grids stop refusing
    case "lambert_conformal_conic" =>
      if (declaredEllipsoid(a).isDefined) lccEllExprs(lccEllFrom(a))
      else lccExprs(lccFrom(a))
    case "polar_stereographic" =>
      if (declaredEllipsoid(a).isDefined) psEllExprs(psEllFrom(a))
      else psExprs(psFrom(a))
    case "sinusoidal" => sinuExprs(sinuFrom(a))
    case "albers_conical_equal_area" => albersExprs(albersFrom(a))
    case "mercator" => mercExprs(mercFrom(a))
    case "latitude_longitude" => latLonExprs
    case "geostationary" => geosExprs(geosFrom(a))
    case "transverse_mercator" =>
      val p = tmFrom(a); Utm.tmLevelExprs(p.a, p.f, p.k0, p.lon0Deg, p.fe, p.fn)
    case other => sys.error(
      s"${a.where}: grid_mapping_name '$other' is not implemented " +
        "(rotated_latitude_longitude, lambert_conformal_conic, " +
        "polar_stereographic, sinusoidal, albers_conical_equal_area, " +
        "mercator, latitude_longitude, transverse_mercator and " +
        "geostationary are) — refusing rather than mislabeling every cell")
  }

  /** Zarr attribute path (r19): the ARRAY's `.zattrs` names the
    * grid-mapping MEMBER (a sibling of the array, like coordinate
    * members); its `.zattrs` carries the CF parameters — numbers and
    * the two-value standard_parallel array included. Cells + coords
    * ride the DSv2 face (`coords` = "x,y" siblings), the projection is
    * the same map-side expression stack.
    */
  def cellsLonLatZarr(s: SparkSession, arrayDir: String): DataFrame = {
    val (strs, _) = Zarr.readZattrsFull(arrayDir)
    val gmName = strs.getOrElse("grid_mapping", sys.error(
      s"$arrayDir: array declares no grid_mapping — refusing to assume a projection"))
    val parent = new org.apache.hadoop.fs.Path(arrayDir).getParent
    require(parent != null, s"$arrayDir: no parent to resolve grid mapping '$gmName'")
    val gmDir = new org.apache.hadoop.fs.Path(parent, gmName).toString
    val (gs, gn) = Zarr.readZattrsFull(gmDir)
    require(gs.nonEmpty || gn.nonEmpty,
      s"$arrayDir: grid_mapping '$gmName' names no attributed sibling member — " +
        "refusing to guess a projection")
    LevelChain(
      s.read.format("graft.zonal.ZarrSource").option("coords", "x,y").load(arrayDir),
      levelsFor(GmAttrs(gmDir, gs, gn)))
  }

  /** netCDF-4/HDF5 attribute path (r19): the data DATASET's string
    * attribute names the grid-mapping member dataset; its numeric +
    * string attribute messages carry the parameters (array attributes
    * included — the rank-1 standard_parallel pair). Cells + coords ride
    * the DSv2 face.
    */
  def cellsLonLatHdf5(s: SparkSession, path: String, varName: String): DataFrame = {
    val m = Hdf5.readMeta(path, varName)
    val gmName = m.strAttrs.getOrElse("grid_mapping", sys.error(
      s"$path: $varName declares no grid_mapping — refusing to assume a projection"))
    val gm =
      try Hdf5.readMeta(path, gmName)
      catch { case e: Exception => sys.error(
        s"$path: $varName declares grid_mapping '$gmName' but no such dataset " +
          s"exists — refusing to guess a projection (${e.getMessage})") }
    LevelChain(
      s.read.format("graft.zonal.Hdf5Source")
        .option("var", varName).option("coords", "x,y").load(path),
      levelsFor(GmAttrs(s"$path:$gmName", gm.strAttrs, gm.numAttrs)))
  }

  // ---- fixtures (formula grids; coord steps exactly representable in
  // f32 so the file's float coordinate variables replay as exact
  // formulas on both engines) ----

  val GmW = 60
  val GmH = 50
  def gmValue(x: Int, y: Int): Double = ((23 * x + 19 * y) % 991).toDouble
  private val GmCellsSql =
    s"""SELECT x.range AS cell_x, y.range AS cell_y,
       |  CAST((23 * x.range + 19 * y.range) % 991 AS DOUBLE) AS value
       |FROM range(0, $GmW) x CROSS JOIN range(0, $GmH) y""".stripMargin

  // CORDEX-like pole; rlon = -4 + 0.125 x, rlat = -3 + 0.125 y
  val PoleLat = 39.25
  val PoleLon = -162.0
  def rotatedFixturePath(): String =
    Fixture.once(s"nc_rotated_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "tas", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -3.0 + 0.125 * y, coordX = x => -4.0 + 0.125 * x,
        gridMapping = Some(("rotated_pole", Seq(
          ("grid_mapping_name", Right("rotated_latitude_longitude")),
          ("grid_north_pole_latitude", Left(Seq(PoleLat))),
          ("grid_north_pole_longitude", Left(Seq(PoleLon)))))))(
        (x, y, _) => gmValue(x, y))
    }

  // the THIRD-rotation variant (r20): same pole, the true north pole at
  // rotated longitude 10 — some CORDEX-style domains declare it
  val Npgl = 10.0
  def rotatedNpglFixturePath(): String =
    Fixture.once(s"nc_rotated_npgl_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "tas", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -3.0 + 0.125 * y, coordX = x => -4.0 + 0.125 * x,
        gridMapping = Some(("rotated_pole", Seq(
          ("grid_mapping_name", Right("rotated_latitude_longitude")),
          ("grid_north_pole_latitude", Left(Seq(PoleLat))),
          ("grid_north_pole_longitude", Left(Seq(PoleLon))),
          ("north_pole_grid_longitude", Left(Seq(Npgl)))))))(
        (x, y, _) => gmValue(x, y))
    }

  // WRF-like CONUS cone; x = -90000 + 3000 i, y = -75000 + 3000 j (m)
  val LccSp1 = 30.0
  val LccSp2 = 60.0
  val LccLat0 = 45.0
  val LccLon0 = -97.0
  val LccRadius = 6370000.0
  def lccFixturePath(): String =
    Fixture.once(s"nc_lcc_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "tas", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -75000.0 + 3000.0 * y, coordX = x => -90000.0 + 3000.0 * x,
        gridMapping = Some(("lcc", Seq(
          ("grid_mapping_name", Right("lambert_conformal_conic")),
          ("standard_parallel", Left(Seq(LccSp1, LccSp2))),
          ("longitude_of_central_meridian", Left(Seq(LccLon0))),
          ("latitude_of_projection_origin", Left(Seq(LccLat0))),
          ("earth_radius", Left(Seq(LccRadius)))))))(
        (x, y, _) => gmValue(x, y))
    }

  /** Zarr hierarchy twin of the rotated fixture: tas + x/y coord
    * members + a `rotated_pole` member whose `.zattrs` carries the CF
    * parameters (numbers in JSON — the format's native attr shape).
    */
  def rotatedZarrDir(): String =
    Fixture.once(s"zarr_rotated_${GmW}x$GmH") { dir =>
      Zarr.writeZarr(s"$dir/tas", GmH, GmW, 32, 32)(gmValue)
      write(s"$dir/tas/.zattrs", """{"grid_mapping": "rotated_pole"}""")
      Zarr.writeZarrCoord(s"$dir/x", GmW, GmW)(x => -4.0 + 0.125 * x)
      Zarr.writeZarrCoord(s"$dir/y", GmH, GmH)(y => -3.0 + 0.125 * y)
      Zarr.writeZarrCoord(s"$dir/rotated_pole", 1, 1)(_ => 0.0)
      write(s"$dir/rotated_pole/.zattrs",
        s"""{"grid_mapping_name": "rotated_latitude_longitude",
           | "grid_north_pole_latitude": $PoleLat,
           | "grid_north_pole_longitude": $PoleLon}""".stripMargin)
    }

  /** Zarr LCC twin: projection-meter coord members + the `lcc` member
    * with the JSON array standard_parallel.
    */
  def lccZarrDir(): String =
    Fixture.once(s"zarr_lcc_${GmW}x$GmH") { dir =>
      Zarr.writeZarr(s"$dir/tas", GmH, GmW, 32, 32)(gmValue)
      write(s"$dir/tas/.zattrs", """{"grid_mapping": "lcc"}""")
      Zarr.writeZarrCoord(s"$dir/x", GmW, GmW)(x => -90000.0 + 3000.0 * x)
      Zarr.writeZarrCoord(s"$dir/y", GmH, GmH)(y => -75000.0 + 3000.0 * y)
      Zarr.writeZarrCoord(s"$dir/lcc", 1, 1)(_ => 0.0)
      write(s"$dir/lcc/.zattrs",
        s"""{"grid_mapping_name": "lambert_conformal_conic",
           | "standard_parallel": [$LccSp1, $LccSp2],
           | "longitude_of_central_meridian": $LccLon0,
           | "latitude_of_projection_origin": $LccLat0,
           | "earth_radius": $LccRadius}""".stripMargin)
    }

  /** netCDF-4/HDF5 twin of the rotated fixture: datasets tas + x/y +
    * the `rotated_pole` container dataset carrying real v1 numeric
    * attribute messages.
    */
  def rotatedHdf5Path(): String =
    Fixture.once(s"h5_rotated_${GmW}x$GmH.nc") { p =>
      Hdf5.writeHdf5Multi(p, Seq(
        ("tas", Seq(GmH, GmW), "<f8",
          Array.tabulate(GmH * GmW)(i => gmValue(i % GmW, i / GmW))),
        ("x", Seq(GmW), "<f8", Array.tabulate(GmW)(x => -4.0 + 0.125 * x)),
        ("y", Seq(GmH), "<f8", Array.tabulate(GmH)(y => -3.0 + 0.125 * y)),
        ("rotated_pole", Seq(1), "<f8", Array(0.0))),
        memberStrAttrs = Map(
          "tas" -> Seq(("grid_mapping", "rotated_pole")),
          "rotated_pole" -> Seq(("grid_mapping_name", "rotated_latitude_longitude"))),
        memberNumAttrs = Map("rotated_pole" -> Seq(
          ("grid_north_pole_latitude", Seq(PoleLat)),
          ("grid_north_pole_longitude", Seq(PoleLon)))))
    }

  /** netCDF-4/HDF5 LCC twin — the standard_parallel PAIR rides a
    * rank-1 float64 attribute message (array attrs both directions).
    */
  def lccHdf5Path(): String =
    Fixture.once(s"h5_lcc_${GmW}x$GmH.nc") { p =>
      Hdf5.writeHdf5Multi(p, Seq(
        ("tas", Seq(GmH, GmW), "<f8",
          Array.tabulate(GmH * GmW)(i => gmValue(i % GmW, i / GmW))),
        ("x", Seq(GmW), "<f8", Array.tabulate(GmW)(x => -90000.0 + 3000.0 * x)),
        ("y", Seq(GmH), "<f8", Array.tabulate(GmH)(y => -75000.0 + 3000.0 * y)),
        ("lcc", Seq(1), "<f8", Array(0.0))),
        memberStrAttrs = Map(
          "tas" -> Seq(("grid_mapping", "lcc")),
          "lcc" -> Seq(("grid_mapping_name", "lambert_conformal_conic"))),
        memberNumAttrs = Map("lcc" -> Seq(
          ("standard_parallel", Seq(LccSp1, LccSp2)),
          ("longitude_of_central_meridian", Seq(LccLon0)),
          ("latitude_of_projection_origin", Seq(LccLat0)),
          ("earth_radius", Seq(LccRadius)))))
    }

  // NSIDC-style north polar stereographic: true scale at 70N, the
  // straight meridian at -45, sphere radius 6370 km; the grid straddles
  // the pole with offsets chosen so no cell lands exactly ON it
  val PsSp = 70.0
  val PsLon0 = -45.0
  val PsRadius = 6370000.0
  def psFixturePath(): String =
    Fixture.once(s"nc_ps_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "sic", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -123000.0 + 5000.0 * y, coordX = x => -149000.0 + 5000.0 * x,
        gridMapping = Some(("ps", Seq(
          ("grid_mapping_name", Right("polar_stereographic")),
          ("latitude_of_projection_origin", Left(Seq(90.0))),
          ("straight_vertical_longitude_from_pole", Left(Seq(PsLon0))),
          ("standard_parallel", Left(Seq(PsSp))),
          ("earth_radius", Left(Seq(PsRadius)))))))(
        (x, y, _) => gmValue(x, y))
    }

  // the REAL NSIDC north grid shape (EPSG 3411): the Hughes 1980
  // ellipsoid NSIDC sea-ice products actually declare (a = 6378273,
  // 1/f = 298.279411123064), true scale at 70N, straight meridian -45
  // — the ellipsoidal twin of psFixturePath, same pole-straddling grid
  val PsEllA = 6378273.0
  val PsEllInvF = 298.279411123064
  def psEllFixturePath(): String =
    Fixture.once(s"nc_ps_ell_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "sic", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -123000.0 + 5000.0 * y, coordX = x => -149000.0 + 5000.0 * x,
        gridMapping = Some(("ps", Seq(
          ("grid_mapping_name", Right("polar_stereographic")),
          ("latitude_of_projection_origin", Left(Seq(90.0))),
          ("straight_vertical_longitude_from_pole", Left(Seq(PsLon0))),
          ("standard_parallel", Left(Seq(PsSp))),
          ("semi_major_axis", Left(Seq(PsEllA))),
          ("inverse_flattening", Left(Seq(PsEllInvF)))))))(
        (x, y, _) => gmValue(x, y))
    }

  // Daymet-style ellipsoidal LCC: WGS84, parallels 25/60, central
  // meridian -100, origin 42.5 — the projection the Daymet CONUS
  // dailies actually declare
  val LccEllSp1 = 25.0
  val LccEllSp2 = 60.0
  val LccEllLat0 = 42.5
  val LccEllLon0 = -100.0
  val LccEllA = 6378137.0
  val LccEllInvF = 298.257223563
  def lccEllFixturePath(): String =
    Fixture.once(s"nc_lcc_ell_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "prcp", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -75000.0 + 3000.0 * y, coordX = x => -90000.0 + 3000.0 * x,
        gridMapping = Some(("lcc", Seq(
          ("grid_mapping_name", Right("lambert_conformal_conic")),
          ("standard_parallel", Left(Seq(LccEllSp1, LccEllSp2))),
          ("longitude_of_central_meridian", Left(Seq(LccEllLon0))),
          ("latitude_of_projection_origin", Left(Seq(LccEllLat0))),
          ("semi_major_axis", Left(Seq(LccEllA))),
          ("inverse_flattening", Left(Seq(LccEllInvF)))))))(
        (x, y, _) => gmValue(x, y))
    }

  /** Zarr twin of the Hughes-1980 polar fixture (r20): the ellipsoid
    * parameters ride `.zattrs` JSON numbers — `declaredEllipsoid`
    * through the Zarr attribute parser.
    */
  def psEllZarrDir(): String =
    Fixture.once(s"zarr_ps_ell_${GmW}x$GmH") { dir =>
      Zarr.writeZarr(s"$dir/sic", GmH, GmW, 32, 32)(gmValue)
      write(s"$dir/sic/.zattrs", """{"grid_mapping": "ps"}""")
      Zarr.writeZarrCoord(s"$dir/x", GmW, GmW)(x => -149000.0 + 5000.0 * x)
      Zarr.writeZarrCoord(s"$dir/y", GmH, GmH)(y => -123000.0 + 5000.0 * y)
      Zarr.writeZarrCoord(s"$dir/ps", 1, 1)(_ => 0.0)
      write(s"$dir/ps/.zattrs",
        s"""{"grid_mapping_name": "polar_stereographic",
           | "latitude_of_projection_origin": 90.0,
           | "straight_vertical_longitude_from_pole": $PsLon0,
           | "standard_parallel": $PsSp,
           | "semi_major_axis": $PsEllA,
           | "inverse_flattening": $PsEllInvF}""".stripMargin)
    }

  /** netCDF-4/HDF5 twin of the Daymet-style ellipsoidal LCC (r20):
    * the standard_parallel PAIR plus the ellipsoid ride real v1
    * numeric attribute messages — `declaredEllipsoid` through the
    * HDF5 attribute parser.
    */
  def lccEllHdf5Path(): String =
    Fixture.once(s"h5_lcc_ell_${GmW}x$GmH.nc") { p =>
      Hdf5.writeHdf5Multi(p, Seq(
        ("prcp", Seq(GmH, GmW), "<f8",
          Array.tabulate(GmH * GmW)(i => gmValue(i % GmW, i / GmW))),
        ("x", Seq(GmW), "<f8", Array.tabulate(GmW)(x => -90000.0 + 3000.0 * x)),
        ("y", Seq(GmH), "<f8", Array.tabulate(GmH)(y => -75000.0 + 3000.0 * y)),
        ("lcc", Seq(1), "<f8", Array(0.0))),
        memberStrAttrs = Map(
          "prcp" -> Seq(("grid_mapping", "lcc")),
          "lcc" -> Seq(("grid_mapping_name", "lambert_conformal_conic"))),
        memberNumAttrs = Map("lcc" -> Seq(
          ("standard_parallel", Seq(LccEllSp1, LccEllSp2)),
          ("longitude_of_central_meridian", Seq(LccEllLon0)),
          ("latitude_of_projection_origin", Seq(LccEllLat0)),
          ("semi_major_axis", Seq(LccEllA)),
          ("inverse_flattening", Seq(LccEllInvF)))))
    }

  // fixture-side Scala twins of the ellipsoidal constants (the oracle
  // re-derives from these literals, the engine from the file's attrs)
  private def oraclePsEllSql: String = {
    val f = 1.0 / PsEllInvF; val e = math.sqrt(2 * f - f * f)
    val tc = math.toRadians(PsSp)
    LevelChain.sql(PsCoordsSql,
      psEllExprs(PsEll(PsEllA * snyderM(tc, e) / snyderT(tc, e), PsLon0,
        south = false, 0.0, 0.0, chiSeriesOf(e * e))), "pse")
  }
  private def oracleLccEllSql: String = {
    val f = 1.0 / LccEllInvF; val e = math.sqrt(2 * f - f * f)
    val p1 = math.toRadians(LccEllSp1); val p2 = math.toRadians(LccEllSp2)
    val n = (math.log(snyderM(p1, e)) - math.log(snyderM(p2, e))) /
      (math.log(snyderT(p1, e)) - math.log(snyderT(p2, e)))
    val aF = LccEllA * snyderM(p1, e) / (n * math.pow(snyderT(p1, e), n))
    val rho0 = aF * math.pow(snyderT(math.toRadians(LccEllLat0), e), n)
    LevelChain.sql(LccCoordsSql,
      lccEllExprs(LccEll(n, aF, rho0, LccEllLon0, 0.0, 0.0,
        chiSeriesOf(e * e))), "lce")
  }

  // lcc_ell extent: lon -101.16..-98.88, lat 41.79..43.18
  private val LccEllZonesSql = zonesSql(-101.0, 0.032, 0.08, 41.85, 0.021, 0.05)
  // ps_ell extent: lat 88.22..89.98, lon the full circle — PsZonesSql
  // (88.25.. band) sits inside it, so the spherical zones are reused

  // MODIS-style sinusoidal: the sphere MODIS actually declares
  // (R = 6371007.181), origin meridian 0, a mid-latitude tile-corner
  // extent; projection-meter steps are integers < 2^24 so the f32
  // coordinate variables replay as exact formulas
  val SinuRadius = 6371007.181
  val SinuLon0 = 0.0
  def sinuFixturePath(): String =
    Fixture.once(s"nc_sinu_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "sur_refl", GmH, GmW, Netcdf.NcFloat,
        coordY = y => 3336000.0 + 1000.0 * y, coordX = x => -10007000.0 + 1000.0 * x,
        gridMapping = Some(("sinu", Seq(
          ("grid_mapping_name", Right("sinusoidal")),
          ("longitude_of_projection_origin", Left(Seq(SinuLon0))),
          ("earth_radius", Left(Seq(SinuRadius)))))))(
        (x, y, _) => gmValue(x, y))
    }

  /** netCDF-4/HDF5 sinusoidal twin — the HDF-EOS5 shape MODIS-family
    * products actually ship in.
    */
  def sinuHdf5Path(): String =
    Fixture.once(s"h5_sinu_${GmW}x$GmH.nc") { p =>
      Hdf5.writeHdf5Multi(p, Seq(
        ("sur_refl", Seq(GmH, GmW), "<f8",
          Array.tabulate(GmH * GmW)(i => gmValue(i % GmW, i / GmW))),
        ("x", Seq(GmW), "<f8", Array.tabulate(GmW)(x => -10007000.0 + 1000.0 * x)),
        ("y", Seq(GmH), "<f8", Array.tabulate(GmH)(y => 3336000.0 + 1000.0 * y)),
        ("sinu", Seq(1), "<f8", Array(0.0))),
        memberStrAttrs = Map(
          "sur_refl" -> Seq(("grid_mapping", "sinu")),
          "sinu" -> Seq(("grid_mapping_name", "sinusoidal"))),
        memberNumAttrs = Map("sinu" -> Seq(
          ("longitude_of_projection_origin", Seq(SinuLon0)),
          ("earth_radius", Seq(SinuRadius)))))
    }

  private val SinuCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(-10007000.0 + 1000.0 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(3336000.0 + 1000.0 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  private def oracleSinuSql: String =
    LevelChain.sql(SinuCoordsSql,
      sinuExprs(Sinu(SinuRadius, SinuLon0, 0.0, 0.0)), "sinu")

  // sinusoidal extent: lon -104.39..-103.31, lat 30.00..30.44
  private val SinuZonesSql = zonesSql(-104.35, 0.017, 0.05, 30.02, 0.0072, 0.02)

  // USGS/NLCD-style CONUS Albers: the classic Clarke-sphere radius,
  // parallels 29.5/45.5, origin (23, -96); a northern-plains extent
  val AlbSp1 = 29.5
  val AlbSp2 = 45.5
  val AlbLat0 = 23.0
  val AlbLon0 = -96.0
  val AlbRadius = 6370997.0
  def albersFixturePath(): String =
    Fixture.once(s"nc_albers_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "landcov", GmH, GmW, Netcdf.NcFloat,
        coordY = y => 2280000.0 + 3000.0 * y, coordX = x => -120000.0 + 3000.0 * x,
        gridMapping = Some(("albers", Seq(
          ("grid_mapping_name", Right("albers_conical_equal_area")),
          ("standard_parallel", Left(Seq(AlbSp1, AlbSp2))),
          ("longitude_of_central_meridian", Left(Seq(AlbLon0))),
          ("latitude_of_projection_origin", Left(Seq(AlbLat0))),
          ("earth_radius", Left(Seq(AlbRadius)))))))(
        (x, y, _) => gmValue(x, y))
    }

  private val AlbCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(-120000.0 + 3000.0 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(2280000.0 + 3000.0 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  private def oracleAlbersSql: String = {
    val p1 = math.toRadians(AlbSp1); val p2 = math.toRadians(AlbSp2)
    val n = (math.sin(p1) + math.sin(p2)) / 2
    val c = math.cos(p1) * math.cos(p1) + 2 * n * math.sin(p1)
    val rho0 = AlbRadius * math.sqrt(c - 2 * n * math.sin(math.toRadians(AlbLat0))) / n
    LevelChain.sql(AlbCoordsSql,
      albersExprs(Albers(n, c, AlbRadius, rho0, AlbLon0, 0.0, 0.0)), "alb")
  }

  // albers extent: lon -97.52..-95.28, lat 43.45..44.78
  private val AlbZonesSql = zonesSql(-97.45, 0.035, 0.09, 43.5, 0.021, 0.06)

  // ocean-model Mercator: true scale at 20N, origin meridian -40
  val MercSp = 20.0
  val MercLon0 = -40.0
  val MercRadius = 6371000.0
  def mercFixturePath(): String =
    Fixture.once(s"nc_merc_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "sst", GmH, GmW, Netcdf.NcFloat,
        coordY = y => 3000000.0 + 20000.0 * y, coordX = x => -500000.0 + 20000.0 * x,
        gridMapping = Some(("merc", Seq(
          ("grid_mapping_name", Right("mercator")),
          ("longitude_of_projection_origin", Left(Seq(MercLon0))),
          ("standard_parallel", Left(Seq(MercSp))),
          ("earth_radius", Left(Seq(MercRadius)))))))(
        (x, y, _) => gmValue(x, y))
    }

  private val MercCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(-500000.0 + 20000.0 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(3000000.0 + 20000.0 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  private def oracleMercSql: String =
    LevelChain.sql(MercCoordsSql,
      mercExprs(Merc(MercRadius * math.cos(math.toRadians(MercSp)),
        MercLon0, 0.0, 0.0)), "merc")

  // mercator extent: lon -44.79..-33.49, lat 27.58..35.56
  private val MercZonesSql = zonesSql(-44.5, 0.18, 0.45, 27.8, 0.13, 0.35)

  // explicit latitude_longitude with 0..360 longitudes (the common CF
  // convention the wrap normalizes): lon 350..357.375 -> -10..-2.625
  def latLonFixturePath(): String =
    Fixture.once(s"nc_latlon_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "tas", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -3.0 + 0.125 * y, coordX = x => 350.0 + 0.125 * x,
        gridMapping = Some(("crs", Seq(
          ("grid_mapping_name", Right("latitude_longitude")),
          ("earth_radius", Left(Seq(6371000.0)))))))(
        (x, y, _) => gmValue(x, y))
    }

  private val LatLonCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(350.0 + 0.125 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(-3.0 + 0.125 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  private def oracleLatLonSql: String =
    LevelChain.sql(LatLonCoordsSql, latLonExprs, "ll")

  // CF-declared transverse Mercator on the WGS84 ellipsoid shaped like
  // UTM 18N — every parameter READ FROM THE FILE, none assumed
  val TmLon0 = -75.0
  def tmFixturePath(): String =
    Fixture.once(s"nc_tm_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "dem", GmH, GmW, Netcdf.NcFloat,
        coordY = y => 4300000.0 + 2000.0 * y, coordX = x => 440000.0 + 2000.0 * x,
        gridMapping = Some(("tmerc", Seq(
          ("grid_mapping_name", Right("transverse_mercator")),
          ("longitude_of_central_meridian", Left(Seq(TmLon0))),
          ("latitude_of_projection_origin", Left(Seq(0.0))),
          ("scale_factor_at_central_meridian", Left(Seq(0.9996))),
          ("false_easting", Left(Seq(500000.0))),
          ("semi_major_axis", Left(Seq(6378137.0))),
          ("inverse_flattening", Left(Seq(298.257223563)))))))(
        (x, y, _) => gmValue(x, y))
    }

  private val TmCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(440000.0 + 2000.0 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(4300000.0 + 2000.0 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  private def oracleTmSql: String =
    LevelChain.sql(TmCoordsSql,
      Utm.tmLevelExprs(6378137.0, 1.0 / 298.257223563, 0.9996,
        TmLon0, 500000.0, 0.0), "tm")

  // GOES-East ABI fixed grid: perspective height, GRS80 ellipsoid,
  // x-sweep; a CONUS-ish on-disk window in projection meters
  val GeosH = 35786023.0
  val GeosReq = 6378137.0
  val GeosRpol = 6356752.31414
  val GeosLon0 = -75.0
  def geosFixturePath(): String =
    Fixture.once(s"nc_geos_${GmW}x$GmH.nc") { p =>
      Netcdf.writeNetcdf(p, "rad", GmH, GmW, Netcdf.NcFloat,
        coordY = y => -1000000.0 + 40000.0 * y, coordX = x => -1200000.0 + 40000.0 * x,
        gridMapping = Some(("goes_imager_projection", Seq(
          ("grid_mapping_name", Right("geostationary")),
          ("perspective_point_height", Left(Seq(GeosH))),
          ("semi_major_axis", Left(Seq(GeosReq))),
          ("semi_minor_axis", Left(Seq(GeosRpol))),
          ("longitude_of_projection_origin", Left(Seq(GeosLon0))),
          ("sweep_angle_axis", Right("x"))))))(
        (x, y, _) => gmValue(x, y))
    }

  private val GeosCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(-1200000.0 + 40000.0 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(-1000000.0 + 40000.0 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  private def oracleGeosSql: String =
    LevelChain.sql(GeosCoordsSql,
      geosExprs(Geos(GeosH, GeosReq, GeosRpol, GeosLon0, 0.0, 0.0)), "geo")

  // geos extent: lon -86.05..-64.32, lat -9.13..8.76
  private val GeosZonesSql = zonesSql(-85.5, 0.36, 1.0, -8.8, 0.3, 0.8)
  // tm extent: lon -75.70..-74.32, lat 38.85..39.73
  private val TmZonesSql = zonesSql(-75.65, 0.022, 0.06, 38.88, 0.014, 0.04)

  private val PsCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(-149000.0 + 5000.0 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(-123000.0 + 5000.0 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  private def oraclePsSql: String = {
    val twoRk0 = 2.0 * PsRadius * (1.0 + math.sin(math.toRadians(PsSp))) / 2.0
    LevelChain.sql(PsCoordsSql,
      psExprs(PolarStereo(twoRk0, PsLon0, south = false, 0.0, 0.0)), "ps")
  }

  // ps extent: lat 88.2..90 around the pole, lon the full circle
  private val PsZonesSql = zonesSql(-175.0, 6.0, 15.0, 88.25, 0.028, 0.08)

  private def write(path: String, text: String): Unit =
    java.nio.file.Files.write(new java.io.File(path).toPath,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // oracle-side coord formulas (f32-exact steps)
  private val RotCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(-4.0 + 0.125 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(-3.0 + 0.125 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin
  private val LccCoordsSql =
    s"""SELECT cell_x, cell_y, value,
       |  CAST(-90000.0 + 3000.0 * cell_x AS DOUBLE) AS x_coord,
       |  CAST(-75000.0 + 3000.0 * cell_y AS DOUBLE) AS y_coord
       |FROM ($GmCellsSql) gm_raw""".stripMargin

  // fixture-side Scala twins of the derived constants — the ORACLE
  // builds its SQL from these, the ENGINE re-derives them from the
  // file's attributes, so a parameter misread hash-fails
  private def oracleRotatedSql: String =
    LevelChain.sql(RotCoordsSql, rotatedExprs(Rotated(PoleLat, PoleLon)), "rot")
  private def oracleRotatedNpglSql: String =
    LevelChain.sql(RotCoordsSql, rotatedExprs(Rotated(PoleLat, PoleLon, Npgl)), "rotn")
  private def oracleLccSql: String = {
    val p1 = math.toRadians(LccSp1); val p2 = math.toRadians(LccSp2)
    val n = math.log(math.cos(p1) / math.cos(p2)) /
      math.log(math.tan(math.Pi / 4 + p2 / 2) / math.tan(math.Pi / 4 + p1 / 2))
    val rf = LccRadius * math.cos(p1) * math.pow(math.tan(math.Pi / 4 + p1 / 2), n) / n
    val rho0 = rf / math.pow(math.tan(math.Pi / 4 + math.toRadians(LccLat0) / 2), n)
    LevelChain.sql(LccCoordsSql, lccExprs(Lcc(n, rf, rho0, LccLon0, 0.0, 0.0)), "lcc")
  }

  /** Degree-space zone envelopes inside an extent, keyed off nation. */
  private def zonesSql(lon0: Double, dLon: Double, wLon: Double,
      lat0: Double, dLat: Double, hLat: Double): String =
    s"""SELECT n_nationkey AS zone_id,
       |  $lon0 + (n_nationkey * 2 % 56) * $dLon AS lonmin,
       |  $lon0 + (n_nationkey * 2 % 56) * $dLon + $wLon AS lonmax,
       |  $lat0 + (n_nationkey * 3 % 56) * $dLat AS latmin,
       |  $lat0 + (n_nationkey * 3 % 56) * $dLat + $hLat AS latmax
       |FROM nation""".stripMargin

  // rotated extent: lon 11.2..23.7, lat 47.5..53.9 (corrected r20 —
  // the r19 mirror read 12.3..24.8); the zone band 13.0..20.6 sits
  // inside both, so the constants stand
  private val RotZonesSql = zonesSql(13.0, 0.15, 0.4, 48.0, 0.09, 0.25)
  // lcc extent: lon -98.2..-95.8, lat 44.3..45.7
  private val LccZonesSql = zonesSql(-98.0, 0.035, 0.08, 44.4, 0.02, 0.05)

  import Reproject.{zonalSql, zonalStats, zones}

  def defs: Seq[(String, Q)] = Seq(
    // the unrotation primitive: every cell of the CORDEX-style fixture
    // annotated with true lon/lat via the closed-form spherical
    // rotation, parameters READ FROM THE FILE's grid-mapping variable —
    // the oracle replays the identical expression tree from the fixture
    // constants, so a pole misread, sign flip, or normalization bug
    // hash-fails
    "scan_netcdf_rotated" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleRotatedSql) rot_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, rotatedFixturePath(), "tas")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // the THIRD rotation (r20 — north_pole_grid_longitude, previously
    // refused by name): λ' − npgl before the two-angle unrotation,
    // verified against the rotation-matrix derivation and the CF
    // defining property (rotated (φp, npgl) → the true pole) pinned
    // in GridMappingSpec
    "scan_netcdf_rotated_npgl" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleRotatedNpglSql) rotn_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, rotatedNpglFixturePath(), "tas")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // the end-use: WGS84-degree zones straight over a rotated-pole cube
    // — per-cell unrotation INSIDE the plan, broadcast interval join in
    // degree space, one hash agg (the zonal_raster_utm posture)
    "zonal_netcdf_rotated" -> Q(
      zonalSql(oracleRotatedSql, RotZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, rotatedFixturePath(), "tas"),
        zones(s, d, RotZonesSql))
    },

    // the LCC primitive: WRF-style spherical Lambert conformal conic,
    // cone constants derived from the file's standard_parallel PAIR
    // (the CF array attribute) + origin/radius, embedded as literals
    "scan_netcdf_lcc" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleLccSql) lcc_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, lccFixturePath(), "tas")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the LCC grid
    "zonal_netcdf_lcc" -> Q(
      zonalSql(oracleLccSql, LccZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, lccFixturePath(), "tas"),
        zones(s, d, LccZonesSql))
    },

    // the ZARR attribute path (r19): the array's .zattrs names the
    // grid-mapping MEMBER, parameters parse from its JSON attrs (the
    // format's native shape), cells+coords ride the DSv2 face — same
    // formula, same oracle, different container: a parameter misread
    // on the Zarr path hash-fails independently of the classic path
    "scan_zarr_rotated" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleRotatedSql) rot_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLatZarr(s, s"${rotatedZarrDir()}/tas")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over a Zarr LCC grid (the JSON-array
    // standard_parallel pair exercises numeric-array zattrs)
    "zonal_zarr_lcc" -> Q(
      zonalSql(oracleLccSql, LccZonesSql)) { (s, d) =>
      zonalStats(cellsLonLatZarr(s, s"${lccZarrDir()}/tas"),
        zones(s, d, LccZonesSql))
    },

    // the netCDF-4/HDF5 attribute path (r19): the dataset's string
    // attribute names the container dataset; numeric v1 attribute
    // messages carry the parameters — the standard_parallel PAIR rides
    // a rank-1 float64 attribute (array attrs in both directions)
    "scan_netcdf4_lcc" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleLccSql) lcc_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLatHdf5(s, lccHdf5Path(), "tas")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over a rotated-pole netCDF-4 cube
    "zonal_netcdf4_rotated" -> Q(
      zonalSql(oracleRotatedSql, RotZonesSql)) { (s, d) =>
      zonalStats(cellsLonLatHdf5(s, rotatedHdf5Path(), "tas"),
        zones(s, d, RotZonesSql))
    },

    // polar stereographic (r19 — the NSIDC sea-ice grid, the third CF
    // mapping polar products actually ship): spherical Snyder inverse
    // with true scale at the declared standard parallel, the grid
    // STRADDLING the pole (longitude wraps the full circle and
    // normalizes before round-6) — retiring the refusal the r19 spec
    // originally pinned by name
    "scan_netcdf_polar" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oraclePsSql) ps_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, psFixturePath(), "sic")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the polar grid — zones on BOTH sides of
    // the antimeridian exercise the wrap
    "zonal_netcdf_polar" -> Q(
      zonalSql(oraclePsSql, PsZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, psFixturePath(), "sic"),
        zones(s, d, PsZonesSql))
    },

    // ELLIPSOIDAL polar stereographic (r20 — the r19 verdict's #1
    // real-file gap): the actual NSIDC grids are EPSG 3411 (Hughes
    // 1980) / 3413 (WGS84), so the headline sea-ice use case refused
    // on real files until now. Snyder's ellipsoidal series (eqs.
    // 21-39/21-40 + the χ series 3-5) under the Krüger coefficient
    // discipline — constants driver-precomputed from the DECLARED
    // ellipsoid, embedded as round-trippable literals; the spherical
    // fast path stays for spherical files
    "scan_netcdf_polar_ell" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oraclePsEllSql) pse_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, psEllFixturePath(), "sic")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the Hughes-1980 polar grid — "sea-ice
    // stats per sector" on the file NSIDC actually ships
    "zonal_netcdf_polar_ell" -> Q(
      zonalSql(oraclePsEllSql, PsZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, psEllFixturePath(), "sic"),
        zones(s, d, PsZonesSql))
    },

    // the Zarr attribute path: ellipsoid parameters through `.zattrs`
    // JSON — a declaredEllipsoid misread on this parser hash-fails
    // independently of the classic path
    "scan_zarr_polar_ell" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oraclePsEllSql) pse_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLatZarr(s, s"${psEllZarrDir()}/sic")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // ELLIPSOIDAL LCC (r20): Daymet and many NWP products declare
    // WGS84 LCC — Snyder eqs. 15-1..15-11 + the shared χ series
    "scan_netcdf_lcc_ell" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleLccEllSql) lce_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, lccEllFixturePath(), "prcp")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the Daymet-style grid
    "zonal_netcdf_lcc_ell" -> Q(
      zonalSql(oracleLccEllSql, LccEllZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, lccEllFixturePath(), "prcp"),
        zones(s, d, LccEllZonesSql))
    },

    // the HDF5 attribute path: the ellipsoid + the standard_parallel
    // PAIR through real v1 numeric attribute messages
    "scan_netcdf4_lcc_ell" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleLccEllSql) lce_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLatHdf5(s, lccEllHdf5Path(), "prcp")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // sinusoidal (r19 — the MODIS grid, the equal-area mapping the
    // global land-product tiles ship in): φ = y/R, λ = λ0 + x/(R cos φ)
    // with the sphere READ FROM THE FILE (MODIS's R = 6371007.181)
    "scan_netcdf_sinusoidal" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleSinuSql) sinu_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, sinuFixturePath(), "sur_refl")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones straight over the sinusoidal tile — the
    // "zonal stats of a MODIS tile" end-use
    "zonal_netcdf_sinusoidal" -> Q(
      zonalSql(oracleSinuSql, SinuZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, sinuFixturePath(), "sur_refl"),
        zones(s, d, SinuZonesSql))
    },

    // the HDF-EOS5 shape: same mapping through the netCDF-4/HDF5
    // attribute path — a parameter misread on the HDF5 path hash-fails
    // independently of the classic path
    "scan_netcdf4_sinusoidal" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleSinuSql) sinu_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLatHdf5(s, sinuHdf5Path(), "sur_refl")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // Albers equal-area conic (r19 — the USGS projection: NLCD, the
    // land-cover raster every CONUS zonal-stats job reads, ships in
    // it): spherical Snyder inverse, cone constants n/C/ρ0 derived
    // from the file's standard_parallel pair + origin + radius
    "scan_netcdf_albers" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleAlbersSql) alb_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, albersFixturePath(), "landcov")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the Albers grid — the "NLCD class areas
    // per county" query shape
    "zonal_netcdf_albers" -> Q(
      zonalSql(oracleAlbersSql, AlbZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, albersFixturePath(), "landcov"),
        zones(s, d, AlbZonesSql))
    },

    // Mercator (r19 — ocean-model output grids): spherical inverse
    // φ = 2·atan(exp(y/Rk0)) − π/2 with k0 = cos φts from the file's
    // standard parallel (or its declared scale factor — exactly one)
    "scan_netcdf_mercator" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleMercSql) merc_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, mercFixturePath(), "sst")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the Mercator grid
    "zonal_netcdf_mercator" -> Q(
      zonalSql(oracleMercSql, MercZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, mercFixturePath(), "sst"),
        zones(s, d, MercZonesSql))
    },

    // geostationary (r19 — the GOES-R ABI fixed grid, satellite
    // imagery's projection: every ABI L1b/L2 product georeferences
    // through it): scan angles = projection meters / perspective
    // height, the line-of-sight quadratic solved in closed form,
    // geodetic latitude via the ellipsoid ratio — exact against the
    // PUG's published worked example (pinned in GridMappingSpec)
    "scan_netcdf_geos" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleGeosSql) geo_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, geosFixturePath(), "rad")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the GOES fixed grid — "mean radiance per
    // region" straight off the ABI full-disk window
    "zonal_netcdf_geos" -> Q(
      zonalSql(oracleGeosSql, GeosZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, geosFixturePath(), "rad"),
        zones(s, d, GeosZonesSql))
    },

    // transverse Mercator (r19 — the projected-CRS staple, CF-declared:
    // regional DEMs and national grids ship as TM with explicit
    // ellipsoid + scale + meridian): dispatches to the SAME Krüger
    // series as the UTM ops, coefficients recomputed from the file's
    // declared flattening — a misread ellipsoid hash-fails
    "scan_netcdf_tm" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleTmSql) tm_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, tmFixturePath(), "dem")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    },

    // degree-space zones over the declared-TM grid
    "zonal_netcdf_tm" -> Q(
      zonalSql(oracleTmSql, TmZonesSql)) { (s, d) =>
      zonalStats(cellsLonLat(s, tmFixturePath(), "dem"),
        zones(s, d, TmZonesSql))
    },

    // latitude_longitude (r19 — CF's EXPLICIT no-projection
    // declaration, which previously refused as unknown): coordinates
    // are already degrees, only the 0..360 longitude convention
    // normalizes into (-180, 180] — the one transform a "plain
    // lat/lon" file still needs
    "scan_netcdf_latlon" -> Q(
      s"""SELECT cell_x, cell_y, lon, lat, value
         |FROM ($oracleLatLonSql) ll_out
         |ORDER BY cell_x, cell_y""".stripMargin) { (s, _) =>
      cellsLonLat(s, latLonFixturePath(), "tas")
        .select(col("cell_x"), col("cell_y"), col("lon"), col("lat"), col("value"))
        .orderBy("cell_x", "cell_y")
    }
  )
}
