package graft

import org.apache.spark.sql.functions.col

import graft.zonal.Netcdf

/** NetCDF-3 classic reader gates: a hand-assembled CDF-1 file (bytes
  * written independently of [[Netcdf.writeNetcdf]] — the oracle gate
  * covers the writer+reader pair; these cover the reader alone), the
  * record-stride arithmetic incl. the single-record-variable no-padding
  * special case, _FillValue masking, CDF-2 64-bit begins, and the named
  * loud refusals.
  */
class NetcdfSpec extends SparkSuite {

  /** One variable through the classic DSv2 face. */
  private def nc(p: String, v: String) =
    spark.read.format("graft.zonal.NetcdfSource").option("var", v).load(p)

  /** Variable `v` with CF time labels from coordinate `t`. */
  private def nct(p: String, v: String, t: String = "t") =
    spark.read.format("graft.zonal.NetcdfSource").option("var", v).option("time", t).load(p)

  /** Variable `v` with axis labels from coordinates `x` and `y`. */
  private def ncc(p: String, v: String) =
    spark.read.format("graft.zonal.NetcdfSource").option("var", v).option("coords", "x,y").load(p)

  private def tmpFile(name: String): String = {
    val f = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_io/ncspec_$name")
    f.getParentFile.mkdirs()
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    f.getPath
  }

  /** Hand-assembled CDF-1 file: dims y=3, x=2; one double variable
    * `v(y, x)` with value 10y + x — every byte placed by explicit
    * arithmetic, no shared writer code.
    */
  private def handBuilt(): String = {
    val p = tmpFile("hand.nc")
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    o.writeBytes("CDF"); o.writeByte(1)
    o.writeInt(0) // numrecs
    o.writeInt(0x0A); o.writeInt(2) // NC_DIMENSION, 2 dims
    o.writeInt(1); o.writeBytes("y"); o.write(new Array[Byte](3)); o.writeInt(3)
    o.writeInt(1); o.writeBytes("x"); o.write(new Array[Byte](3)); o.writeInt(2)
    o.writeInt(0); o.writeInt(0) // no global atts
    o.writeInt(0x0B); o.writeInt(1) // NC_VARIABLE, 1 var
    o.writeInt(1); o.writeBytes("v"); o.write(new Array[Byte](3))
    o.writeInt(2); o.writeInt(0); o.writeInt(1) // rank 2: dims (y, x)
    o.writeInt(0); o.writeInt(0) // no var atts
    o.writeInt(6) // NC_DOUBLE
    o.writeInt(48) // vsize = 3*2*8
    val begin = bo.size + 4
    o.writeInt(begin)
    for (y <- 0 until 3; x <- 0 until 2) o.writeDouble(10 * y + x)
    java.nio.file.Files.write(new java.io.File(p).toPath, bo.toByteArray)
    p
  }

  test("hand-built CDF-1: exact cells from explicit bytes") {
    val p = handBuilt()
    val got = nc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    for (y <- 0 until 3; x <- 0 until 2)
      assert(got((x, y)) == (10 * y + x).toDouble, s"cell ($x,$y)")
  }

  test("writer+reader round trip across all numeric types") {
    for ((t, tag) <- Seq(("byte", 1), ("short", 3), ("int", 4), ("float", 5), ("double", 6))) {
      val p = tmpFile(s"rt_$t.nc")
      // values stay in int8 range so every type round-trips exactly
      Netcdf.writeNetcdf(p, "v", 5, 7, tag)((x, y, _) => ((3 * x + 5 * y) % 120).toDouble)
      val got = nc(p, "v").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 35, s"$t: ${got.size} cells")
      for (y <- 0 until 5; x <- 0 until 7)
        assert(got((x, y)) == ((3 * x + 5 * y) % 120).toDouble, s"$t cell ($x,$y)")
    }
  }

  test("record variable: slabs at the unpadded single-record-var stride") {
    val p = tmpFile("rec.nc")
    // int16 5x3 slabs: one record's raw size 30 bytes is NOT 4-aligned,
    // so the single-record-variable no-padding rule is load-bearing —
    // a reader using the padded vsize as stride reads garbage from
    // record 1 onward.
    Netcdf.writeNetcdf(p, "v", 5, 3, 3, epochs = 4)(
      (x, y, t) => ((x + 10 * y + 100 * t) % 999).toDouble)
    val m = Netcdf.readMeta(p)
    assert(m.numRecs == 4)
    assert(m.recSize == 30, s"stride ${m.recSize}, want unpadded 30")
    val got = nc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 60)
    for (t <- 0 until 4; y <- 0 until 5; x <- 0 until 3)
      assert(got((x, y, t)) == ((x + 10 * y + 100 * t) % 999).toDouble,
        s"cell ($x,$y,$t)")
  }

  test("rank-3 FIXED leading dimension scans as contiguous slabs") {
    // hand-assembled: dims t=2, y=3, x=2 all fixed — epoch slabs are
    // contiguous (no record machinery), value = 100t + 10y + x
    val p = tmpFile("fixed3d.nc")
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    o.writeBytes("CDF"); o.writeByte(1)
    o.writeInt(0)
    o.writeInt(0x0A); o.writeInt(3)
    o.writeInt(1); o.writeBytes("t"); o.write(new Array[Byte](3)); o.writeInt(2)
    o.writeInt(1); o.writeBytes("y"); o.write(new Array[Byte](3)); o.writeInt(3)
    o.writeInt(1); o.writeBytes("x"); o.write(new Array[Byte](3)); o.writeInt(2)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(0x0B); o.writeInt(1)
    o.writeInt(1); o.writeBytes("v"); o.write(new Array[Byte](3))
    o.writeInt(3); o.writeInt(0); o.writeInt(1); o.writeInt(2)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(6) // NC_DOUBLE
    o.writeInt(2 * 3 * 2 * 8)
    val begin = bo.size + 4
    o.writeInt(begin)
    for (t <- 0 until 2; y <- 0 until 3; x <- 0 until 2)
      o.writeDouble(100 * t + 10 * y + x)
    java.nio.file.Files.write(new java.io.File(p).toPath, bo.toByteArray)
    val got = nc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 12)
    for (t <- 0 until 2; y <- 0 until 3; x <- 0 until 2)
      assert(got((x, y, t)) == (100 * t + 10 * y + x).toDouble, s"($x,$y,$t)")
  }

  test("_FillValue masking drops exactly the fill cells") {
    val p = tmpFile("fill.nc")
    Netcdf.writeNetcdf(p, "v", 6, 6, 3, fill = Some(-7.0))(
      (x, y, _) => if ((x + y) % 4 == 0) -7.0 else (x + 10 * y).toDouble)
    val got = Netcdf.scanNetcdfFill(spark, p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until 6; x <- 0 until 6) {
      if ((x + y) % 4 == 0) assert(!got.contains((x, y)), s"($x,$y) should be masked")
      else assert(got((x, y)) == (x + 10 * y).toDouble, s"($x,$y)")
    }
    // unmasked scan keeps the fill cells verbatim
    val raw = nc(p, "v").collect()
    assert(raw.length == 36)
    // masking a variable with no declared fill is a loud error
    val p2 = tmpFile("nofill.nc")
    Netcdf.writeNetcdf(p2, "v", 2, 2, 6)((x, y, _) => 1.0)
    val e = intercept[Exception] { Netcdf.scanNetcdfFill(spark, p2, "v") }
    assert(e.getMessage.contains("_FillValue"))
    // NaN fill (the xarray float default): NaN != NaN must not turn
    // the mask into a silent no-op
    val p3 = tmpFile("nanfill.nc")
    Netcdf.writeNetcdf(p3, "v", 4, 4, 6, fill = Some(Double.NaN))(
      (x, y, _) => if ((x + y) % 3 == 0) Double.NaN else (x + 10 * y).toDouble)
    val gotNan = Netcdf.scanNetcdfFill(spark, p3, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until 4; x <- 0 until 4) {
      if ((x + y) % 3 == 0) assert(!gotNan.contains((x, y)), s"($x,$y) NaN not masked")
      else assert(gotNan((x, y)) == (x + 10 * y).toDouble)
    }
  }

  test("CDF-2 64-bit begins parse (header hand-patched to version 2)") {
    // build a v1 file with the shared writer, then hand-rebuild it as
    // CDF-2: bump the version byte and widen every begin to 8 bytes
    val p1 = tmpFile("v1.nc")
    Netcdf.writeNetcdf(p1, "v", 3, 4, 6, coordVars = false)(
      (x, y, _) => (x + 10 * y).toDouble)
    val b1 = java.nio.file.Files.readAllBytes(new java.io.File(p1).toPath)
    val m1 = Netcdf.readMeta(p1)
    val v1 = m1.variable("v")
    // v1 header layout for this file ends with [..., nc_type, vsize,
    // begin:4]; the CDF-2 twin is identical up to the begin field
    val headEnd = b1.length - 3 * 4 * 8 - 4 // start of the 4-byte begin
    val bo = new java.io.ByteArrayOutputStream()
    bo.write(b1, 0, headEnd)
    val begin2 = v1.begin + 4 // begin grows by the extra 4 bytes
    val w = new java.io.DataOutputStream(bo)
    w.writeLong(begin2)
    bo.write(b1, headEnd + 4, b1.length - headEnd - 4)
    val p2 = tmpFile("v2.nc")
    val b2 = bo.toByteArray
    b2(3) = 2 // CDF-2 magic
    java.nio.file.Files.write(new java.io.File(p2).toPath, b2)
    val got = nc(p2, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 12)
    for (y <- 0 until 3; x <- 0 until 4)
      assert(got((x, y)) == (x + 10 * y).toDouble, s"cell ($x,$y)")
  }

  test("named refusals: HDF5 signature, unknown version, missing variable") {
    val h5 = tmpFile("h5.nc")
    java.nio.file.Files.write(new java.io.File(h5).toPath,
      Array[Byte](0x89.toByte, 'H', 'D', 'F', 13, 10, 26, 10) ++ new Array[Byte](64))
    val e1 = intercept[Exception] { Netcdf.readMeta(h5) }
    assert(e1.getMessage.contains("NetCDF-4"))

    val c0 = tmpFile("c0.nc")
    java.nio.file.Files.write(new java.io.File(c0).toPath,
      "CDF".getBytes("ISO-8859-1") ++ new Array[Byte](64))
    val e2 = intercept[Exception] { Netcdf.readMeta(c0) }
    assert(e2.getMessage.contains("CDF-0 unsupported"))

    val ok = tmpFile("okvar.nc")
    Netcdf.writeNetcdf(ok, "v", 2, 2, 6)((x, y, _) => 1.0)
    val e3 = intercept[Exception] { Netcdf.readMeta(ok).variable("nope") }
    assert(e3.getMessage.contains("not in file"))
  }

  test("CDF-5: hand-built 64-bit-data header parses and scans") {
    // every NON_NEG field 8 bytes (pnetcdf CDF-5 BNF): numrecs, list
    // nelems, name lengths, dim lengths, rank, dimids, vsize; tags and
    // nc_type stay 4; begin is 8 as in CDF-2
    val p = tmpFile("cdf5.nc")
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    o.writeBytes("CDF"); o.writeByte(5)
    o.writeLong(0) // numrecs
    o.writeInt(0x0A); o.writeLong(2)
    o.writeLong(1); o.writeBytes("y"); o.write(new Array[Byte](3)); o.writeLong(3)
    o.writeLong(1); o.writeBytes("x"); o.write(new Array[Byte](3)); o.writeLong(2)
    o.writeInt(0); o.writeLong(0) // no global atts
    o.writeInt(0x0B); o.writeLong(1)
    o.writeLong(1); o.writeBytes("v"); o.write(new Array[Byte](3))
    o.writeLong(2); o.writeLong(0); o.writeLong(1) // rank 2: dims (y, x)
    o.writeInt(0); o.writeLong(0) // no var atts
    o.writeInt(6) // NC_DOUBLE
    o.writeLong(48) // vsize
    val begin = bo.size + 8
    o.writeLong(begin)
    for (y <- 0 until 3; x <- 0 until 2) o.writeDouble(10 * y + x)
    java.nio.file.Files.write(new java.io.File(p).toPath, bo.toByteArray)
    val m = Netcdf.readMeta(p)
    assert(m.version == 5 && m.variable("v").begin == begin)
    val got = nc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    for (y <- 0 until 3; x <- 0 until 2)
      assert(got((x, y)) == (10 * y + x).toDouble, s"cell ($x,$y)")
  }

  test("CDF-5: writer roundtrip with coord vars, record variable, and fill attr") {
    // the writer's wide path against the reader's — all three header
    // shapes the CDF-1 tests cover: fixed 2-D, record 3-D, _FillValue
    val p = tmpFile("cdf5_w.nc")
    Netcdf.writeNetcdf(p, "v", 6, 8, 6, version = 5)(
      (x, y, _) => (3 * x + 7 * y).toDouble)
    assert(Netcdf.readMeta(p).version == 5)
    val got = nc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 48)
    for (y <- 0 until 6; x <- 0 until 8)
      assert(got((x, y)) == (3 * x + 7 * y).toDouble, s"($x,$y)")
    val pr = tmpFile("cdf5_rec.nc")
    Netcdf.writeNetcdf(pr, "v", 4, 6, 5, epochs = 3,
      version = 5)((x, y, t) => (x + 10 * y + 100 * t).toDouble)
    val gr = nc(pr, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(gr.size == 3 * 4 * 6)
    for (t <- 0 until 3; y <- 0 until 4; x <- 0 until 6)
      assert(gr((x, y, t)) == (x + 10 * y + 100 * t).toDouble, s"($x,$y,$t)")
    val pf = tmpFile("cdf5_fill.nc")
    Netcdf.writeNetcdf(pf, "v", 4, 6, 3, fill = Some(-9.0),
      version = 5)((x, y, _) => if (x == y) -9.0 else (x + 10 * y).toDouble)
    val gf = Netcdf.scanNetcdfFill(spark, pf, "v").collect()
    assert(gf.length == 4 * 6 - 4)
  }

  test("rank-4 cube: record AND fixed leading dimension, rank mismatches loud") {
    def f4(x: Int, y: Int, l: Int, t: Int): Double =
      (1000 * t + 100 * l + 10 * y + x).toDouble
    // record t (the sole-record-variable stride) ...
    val p = tmpFile("cube4r.nc")
    Netcdf.writeNetcdf4d(p, "v", 3, 2, 4, 5, 6, record = true)(f4)
    val got = nc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4))
      .toMap
    assert(got.size == 3 * 2 * 4 * 5)
    for (t <- 0 until 3; l <- 0 until 2; y <- 0 until 4; x <- 0 until 5)
      assert(got((x, y, l, t)) == f4(x, y, l, t), s"rec ($x,$y,$l,$t)")
    // ... and fixed t (contiguous slabs)
    val pf = tmpFile("cube4f.nc")
    Netcdf.writeNetcdf4d(pf, "v", 3, 2, 4, 5, 6, record = false)(f4)
    val gf = nc(pf, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4))
      .toMap
    assert(gf.size == 3 * 2 * 4 * 5)
    for (t <- 0 until 3; l <- 0 until 2; y <- 0 until 4; x <- 0 until 5)
      assert(gf((x, y, l, t)) == f4(x, y, l, t), s"fix ($x,$y,$l,$t)")
    // the face reads ranks 2 to 4; a 1-D coordinate is no cube
    val e1 = intercept[Exception] { nc(Netcdf.fixturePath(), "x") }
    assert(e1.getMessage.contains("rank 1"), e1.getMessage)
  }

  test("CF packed variables: unpack arithmetic, no-scale refusal") {
    val p = tmpFile("packed.nc")
    Netcdf.writeNetcdf(p, "v", 4, 6, 3, pack = Some((0.5, -8.0)))(
      (x, y, _) => (x + 10 * y).toDouble)
    val got = Netcdf.scanNetcdfPacked(spark, p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 24)
    for (y <- 0 until 4; x <- 0 until 6)
      assert(got((x, y)) == (x + 10 * y) * 0.5 - 8.0, s"($x,$y)")
    // an unpacked variable refuses the packed scan by name
    val p2 = tmpFile("unpacked.nc")
    Netcdf.writeNetcdf(p2, "v", 2, 2, 6)((x, y, _) => 1.0)
    val e = intercept[Exception] { Netcdf.scanNetcdfPacked(spark, p2, "v") }
    assert(e.getMessage.contains("scale_factor"))
    // add_offset defaults to 0 when absent — write scale via raw attrs
    val p3 = tmpFile("packed_noofs.nc")
    Netcdf.writeNetcdf(p3, "v", 2, 3, 3, pack = Some((2.0, 0.0)))(
      (x, y, _) => (x + y).toDouble)
    val g3 = Netcdf.scanNetcdfPacked(spark, p3, "v").collect()
    assert(g3.map(_.getDouble(2)).sorted.toSeq ==
      (for (y <- 0 until 2; x <- 0 until 3) yield (x + y) * 2.0).sorted.toSeq)
  }

  test("reader navigates past coordinate variables to the requested one") {
    // fixture files carry y(y)/x(x) float coord vars before the data
    // variable; a reader that ignores begins and assumes data-at-header-
    // end would read the y coords as cells
    val p = Netcdf.fixturePath()
    val m = Netcdf.readMeta(p)
    assert(m.vars.map(_.name) == Seq("y", "x", "t2m"))
    val t2m = m.variable("t2m")
    val yv = m.variable("y")
    assert(t2m.begin > yv.begin)
    val got = nc(p, "t2m")
      .filter("cell_x = 79 AND cell_y = 69").collect()
    assert(got.length == 1)
    assert(got(0).getDouble(2) == Netcdf.ncValue(79, 69))
  }

  test("window scan reads no bytes outside the y-window") {
    val p = tmpFile("win.nc")
    Netcdf.writeNetcdf(p, "v", 20, 4, 6, coordVars = false)(
      (x, y, _) => (x + 10 * y).toDouble)
    val m = Netcdf.readMeta(p)
    val begin = m.variable("v").begin
    // truncate the file after row 9: rows 10..19 are GONE, so any read
    // past the window would throw — the pruned scan must not notice
    val full = java.nio.file.Files.readAllBytes(new java.io.File(p).toPath)
    val p2 = tmpFile("win_cut.nc")
    java.nio.file.Files.write(new java.io.File(p2).toPath,
      full.take(begin.toInt + 10 * 4 * 8))
    val got = nc(p2, "v")
      .filter(col("cell_x").between(1, 2) && col("cell_y").between(3, 9)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 2 * 7, s"${got.size} cells")
    for (y <- 3 to 9; x <- 1 to 2)
      assert(got((x, y)) == (x + 10 * y).toDouble, s"cell ($x,$y)")
    // the unpruned scan DOES need those bytes — truncation is loud
    intercept[Throwable] { nc(p2, "v").collect() }
  }

  test("CF packed + _FillValue: raw fill cells drop BEFORE the unpack") {
    // ERA5 shape: int16 raw with fill -32767 AND scale/offset — per CF
    // the fill applies to the PACKED values, so fill cells must never
    // be scaled into plausible physical units
    val p = tmpFile("packed_fill.nc")
    val fillRaw = -32767.0
    def raw(x: Int, y: Int): Double =
      if ((x + y) % 5 == 0) fillRaw else (x + 10 * y).toDouble
    Netcdf.writeNetcdf(p, "v", 4, 6, 3, fill = Some(fillRaw),
      pack = Some((0.25, 16.0)))((x, y, _) => raw(x, y))
    val got = Netcdf.scanNetcdfPacked(spark, p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val live = for (y <- 0 until 4; x <- 0 until 6 if (x + y) % 5 != 0) yield (x, y)
    assert(got.size == live.size, s"${got.size} vs ${live.size}")
    live.foreach { case (x, y) =>
      assert(got((x, y)) == (x + 10 * y) * 0.25 + 16.0, s"($x,$y)") }
    // and no unpacked ghost of the fill value survives
    assert(!got.values.exists(_ == fillRaw * 0.25 + 16.0))
  }

  test("CF valid_range + scale_factor compose: mask raw, emit physical") {
    // per CF valid bounds apply to the PACKED raw samples; a variable
    // that is both packed and range-masked must filter on raw values
    // and still emit physical units (the r14 advice trap: raw leak)
    val p = tmpFile("valid_packed.nc")
    Netcdf.writeNetcdf(p, "v", 4, 6, 3, pack = Some((0.5, 100.0)),
      extraAttrs = Seq(("valid_min", 3.0), ("valid_max", 8.0)))(
      (x, y, _) => (x + y).toDouble)
    val got = Netcdf.scanNetcdfValid(spark, p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val live = for (y <- 0 until 4; x <- 0 until 6
                    if x + y >= 3 && x + y <= 8) yield (x, y)
    assert(got.size == live.size, s"${got.size} vs ${live.size}")
    live.foreach { case (x, y) =>
      assert(got((x, y)) == (x + y) * 0.5 + 100.0, s"($x,$y)") }
    // an UNPACKED range-masked variable still emits stored values
    val p2 = tmpFile("valid_plain.nc")
    Netcdf.writeNetcdf(p2, "v", 2, 3, 6,
      extraAttrs = Seq(("valid_min", 1.0)))((x, y, _) => (x + y).toDouble)
    val g2 = Netcdf.scanNetcdfValid(spark, p2, "v").collect()
    assert(g2.map(_.getDouble(2)).sorted.toSeq == Seq(1.0, 1.0, 2.0, 2.0, 3.0))
  }

  test("writeNetcdf4d refuses CDF-1 header-field overflow loudly") {
    // a fixed-t cube past 2 GiB would wrap the 4-byte vsize/begin —
    // the guard throws BEFORE any data bytes are generated
    val e = intercept[Exception] {
      Netcdf.writeNetcdf4d(tmpFile("overflow.nc"), "v", 1, 1, 46341, 46341,
        6, record = false)((_, _, _, _) => 0.0)
    }
    assert(e.getMessage.contains("CDF-5"), e.getMessage)
  }

  test("coordinate decode: axis labels join the cube; rank/char refusals") {
    val p = tmpFile("coords.nc")
    Netcdf.writeNetcdf(p, "v", 3, 4, 6,
      coordY = y => 40.0 + 0.25 * y,
      coordX = x => -120.0 + 0.25 * x)((x, y, _) => (10 * y + x).toDouble)
    val got = ncc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 12)
    for (y <- 0 until 3; x <- 0 until 4)
      assert(got((x, y)) == ((-120.0 + 0.25 * x, 40.0 + 0.25 * y, (10 * y + x).toDouble)))
    // the bare coordinate read: values in axis order
    val m = Netcdf.readMeta(p)
    assert(Netcdf.readCoordAxis(p, m, "x") == (0 until 4).map(x => -120.0 + 0.25 * x))
    // a 2-D variable is not a coordinate; missing coords are loud
    val e1 = intercept[Exception] { Netcdf.readCoordAxis(p, m, "v") }
    assert(e1.getMessage.contains("rank"))
    val p2 = tmpFile("nocoords.nc")
    Netcdf.writeNetcdf(p2, "v", 3, 4, 6, coordVars = false)((x, y, _) => 1.0)
    val e2 = intercept[Exception] { ncc(p2, "v") }
    assert(e2.getMessage.contains("not in file"))
    // a non-monotonic axis still labels cells; only a value window on
    // it refuses
    val p3 = tmpFile("coords_wrap.nc")
    Netcdf.writeNetcdf(p3, "v", 3, 4, 6,
      coordY = y => 40.0 + 0.25 * y,
      coordX = x => if (x == 2) -200.0 else -120.0 + 0.25 * x)((x, y, _) => (10 * y + x).toDouble)
    assert(ncc(p3, "v").collect().length == 12)
    assert(ncc(p3, "v").filter(col("y_coord") >= 40.25).count() == 2L * 4)
    val e3 = intercept[Exception](ncc(p3, "v").filter(col("x_coord") >= -119.0).collect())
    assert(e3.getMessage.contains("monotonic"), e3.getMessage)
  }

  test("char members tolerated: numeric cube scans, char var itself refuses") {
    val p = tmpFile("charvar.nc")
    Netcdf.writeNetcdf(p, "v", 3, 4, 6,
      charVar = Some(("station_name", Seq("alpha", "b", "gamma-long"))))(
      (x, y, _) => (10 * y + x).toDouble)
    val got = nc(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 12)
    for (y <- 0 until 3; x <- 0 until 4) assert(got((x, y)) == (10 * y + x).toDouble)
    val e = intercept[Exception] { nc(p, "station_name") }
    assert(e.getMessage.contains("char"))
  }

  test("dataset scan: every rank-2 numeric var, non-lattice members skip, empty refuses") {
    val p = tmpFile("dataset.nc")
    Netcdf.writeNetcdf(p, "b", 3, 4, 6,
      charVar = Some(("station_name", Seq("alpha", "b", "gamma-long"))),
      extraVars = Seq(("a", 5, (x, y) => (100 * y + x).toDouble)))(
      (x, y, _) => (10 * y + x).toDouble)
    val got = Netcdf.scanNetcdfDataset(spark, p).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getDouble(3)).toMap
    // 2 vars × 12 cells; coord vectors y/x and the char table skipped
    assert(got.size == 24)
    for (y <- 0 until 3; x <- 0 until 4) {
      assert(got((x, y, "a")) == (100 * y + x).toDouble)
      assert(got((x, y, "b")) == (10 * y + x).toDouble)
    }
    // a record-variable-only file has no fixed (y, x) lattice members
    val p2 = tmpFile("dataset_rec.nc")
    Netcdf.writeNetcdf(p2, "v", 3, 4, 5, epochs = 2, coordVars = false)(
      (x, y, t) => (100 * t + 10 * y + x).toDouble)
    val e = intercept[Exception](Netcdf.scanNetcdfDataset(spark, p2))
    assert(e.getMessage.contains("no rank-2 numeric"))
  }

  test("time window prunes the STRIPE MANIFEST: a truncated out-of-window slab is never read") {
    val p = tmpFile("time_trunc.nc")
    Netcdf.writeNetcdf(p, "v", 4, 4, 6,
      timeAxis = Some((5, i => 7.0 * i + 3.0, "hours since 2020-03-01 06:00:00")))(
      (x, y, t) => (x + 10 * y + 100 * t).toDouble)
    // truncate the file so epoch 4's slab (the last, fixed-t contiguous
    // layout) is past EOF: reading it throws; pruning never touches it
    val full = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      java.util.Arrays.copyOf(full, full.length - 4 * 4 * 8 + 8))
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-02T06:00:00Z")))
    val got = nct(p, "v").filter(col("t_ts").between(win._1, win._2))
    assert(got.count() == 3L * 16)
    val e = intercept[Exception](nct(p, "v").collect())
    assert(e != null)
  }

  test("multi-file concat: global axis + window prunes whole files; overlap and shape refuse (r18)") {
    val dir = java.nio.file.Files.createTempDirectory("nc_mf").toString
    def member(k: Int, days: Seq[Int], w: Int = 6, h: Int = 5): String = {
      val p = s"$dir/m_$k.nc"
      Netcdf.writeNetcdf(p, "v", h, w, 5,
        timeAxis = Some((days.length, j => days(j).toDouble,
          "days since 2000-01-01")))(
        (x, y, t) => (x + 10 * y + 100 * (2 * k + t)).toDouble)
      p
    }
    member(0, Seq(5, 15)); member(1, Seq(35, 45)); member(2, Seq(65, 75))
    // full scan: global epochs 0..5 with exact timestamps
    val all = Netcdf.scanNetcdfMf(spark, dir, "v")
    val labs = all.select("epoch", "t_ts").distinct().collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(labs.size == 6)
    assert(labs(0) == java.time.Instant.parse("2000-01-06T00:00:00Z"))
    assert(labs(5) == java.time.Instant.parse("2000-03-16T00:00:00Z"))
    // values carry the GLOBAL epoch through the concat
    val g3 = all.filter("epoch = 3 AND cell_x = 2 AND cell_y = 1")
      .select("value").collect().map(_.getDouble(0))
    assert(g3.toSeq == Seq(2 + 10 * 1 + 100 * 3.0),
      s"global epoch 3 must read member 1's second slab, got ${g3.toSeq}")
    // window pruning is FILE-level: truncate member 0's data bytes away
    // entirely — a windowed scan that excludes it must never touch them
    val p0 = java.nio.file.Paths.get(s"$dir/m_0.nc")
    val raw = java.nio.file.Files.readAllBytes(p0)
    java.nio.file.Files.write(p0,
      java.util.Arrays.copyOf(raw, raw.length - 2 * 6 * 5 * 4))
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2000-02-01T00:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2000-03-07T00:00:00Z")))
    val kept = Netcdf.scanNetcdfMf(spark, dir, "v", "t", Some(win))
    assert(kept.select("epoch").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(2, 3, 4), "window [Feb 1, Mar 7] keeps global epochs 2..4")
    assert(kept.count() == 3L * 6 * 5)
    intercept[Exception](Netcdf.scanNetcdfMf(spark, dir, "v").count())
    // overlapping members refuse loudly
    val dir2 = java.nio.file.Files.createTempDirectory("nc_mf_bad").toString
    def member2(d2: String, k: Int, days: Seq[Int], w: Int = 6): String = {
      val p = s"$d2/m_$k.nc"
      Netcdf.writeNetcdf(p, "v", 5, w, 5,
        timeAxis = Some((days.length, j => days(j).toDouble,
          "days since 2000-01-01")))((x, y, t) => 1.0)
      p
    }
    member2(dir2, 0, Seq(5, 45)); member2(dir2, 1, Seq(35, 75))
    val eOv = intercept[IllegalArgumentException](
      Netcdf.scanNetcdfMf(spark, dir2, "v").count())
    assert(eOv.getMessage.contains("strictly"), eOv.getMessage)
    // mismatched member shape refuses loudly
    val dir3 = java.nio.file.Files.createTempDirectory("nc_mf_shape").toString
    member2(dir3, 0, Seq(5)); member2(dir3, 1, Seq(35), w = 7)
    val eSh = intercept[Exception](
      Netcdf.scanNetcdfMf(spark, dir3, "v").count())
    assert(eSh.getMessage.contains("differs"), eSh.getMessage)
  }

  test("360_day calendar: nominal Feb 30 surfaces as columns; wrong-calendar dispatch refuses (r18)") {
    val p = Netcdf.time360FixturePath()
    val labs = Netcdf.scanNetcdfTime360(spark, p, "t2m")
      .select("epoch", "t_year", "t_month", "t_day").distinct().collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(labs(1) == ((2000, 2, 30)), "day 59 IS Feb 30 in the 360_day calendar")
    assert(labs(0) == ((2000, 2, 29)) && labs(2) == ((2000, 3, 1))
      && labs(3) == ((2001, 1, 1)), labs.toString)
    // the timestamp path refuses this file by name...
    val e1 = intercept[RuntimeException](nct(p, "t2m").count())
    assert(e1.getMessage.contains("360_day"), e1.getMessage)
    // ...and this op refuses a Gregorian-family file
    val e2 = intercept[IllegalArgumentException](
      Netcdf.scanNetcdfTime360(spark, Netcdf.timeFixturePath(), "t2m").count())
    assert(e2.getMessage.contains("not 360_day"), e2.getMessage)
  }

  test("all_leap calendar: a Feb 29 EVERY year as nominal columns; dispatch refuses both ways (r18)") {
    val p = Netcdf.timeAllLeapFixturePath()
    val labs = Netcdf.scanNetcdfTimeAllLeap(spark, p, "t2m")
      .select("epoch", "t_year", "t_month", "t_day").distinct().collect()
      .map(r => r.getInt(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    // day 425 = 366 + 59 IS 2001-02-29 — a date no Gregorian year has
    assert(labs(5) == ((2001, 2, 29)), labs.toString)
    assert(labs(0) == ((2000, 2, 28)) && labs(1) == ((2000, 2, 29))
      && labs(2) == ((2000, 3, 1)) && labs(3) == ((2000, 12, 31))
      && labs(4) == ((2001, 1, 1)), labs.toString)
    // the timestamp path refuses this file by name...
    val e1 = intercept[RuntimeException](nct(p, "t2m").count())
    assert(e1.getMessage.contains("all_leap"), e1.getMessage)
    // ...this op refuses Gregorian AND 360_day files (the nominal
    // arithmetics disagree too)
    val e2 = intercept[IllegalArgumentException](
      Netcdf.scanNetcdfTimeAllLeap(spark, Netcdf.timeFixturePath(), "t2m").count())
    assert(e2.getMessage.contains("not 366_day/all_leap")
      || e2.getMessage.contains("not all_leap/366_day"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Netcdf.scanNetcdfTimeAllLeap(spark, Netcdf.time360FixturePath(), "t2m").count())
    assert(e3.getMessage.contains("360_day is not"), e3.getMessage)
    // an all_leap epoch date itself validates under the 366-day table
    val eD = intercept[IllegalArgumentException](
      Netcdf.cfAllLeapLabel("days since 2000-02-30", "t"))
    assert(eD.getMessage.contains("invalid"), eD.getMessage)
    // labeller spot-check: Feb 29 of the epoch year via hours units
    val lab = Netcdf.cfAllLeapLabel("hours since 2000-01-01", "t")._2
    assert(lab(59L * 24 + 6) == ((2000, 2, 29, 6L * 3600000000L)))
  }

  test("CF calendar attribute: gregorian family + noleap decode, the rest refuses (r18)") {
    def lab(units: String, cal: Option[String], v: Long): java.time.Instant = {
      val s = Netcdf.cfTimeScale(units, cal, "t")
      java.time.Instant.ofEpochSecond(Math.floorDiv(s.label(v), 1000000L),
        Math.floorMod(s.label(v), 1000000L) * 1000L)
    }
    val d0 = "days since 2000-01-01"
    // absent calendar = standard = proleptic-Gregorian post-cutover:
    // all three spellings and absent agree, and 2000 IS a leap year
    for (cal <- Seq(None, Some("standard"), Some("gregorian"),
        Some("proleptic_gregorian"), Some(" Standard "))) {
      assert(lab(d0, cal, 59) == java.time.Instant.parse("2000-02-29T00:00:00Z"),
        s"cal=$cal")
      assert(lab(d0, cal, 60) == java.time.Instant.parse("2000-03-01T00:00:00Z"))
    }
    // noleap: no Feb 29 — day 59 is ALREADY March 1; year boundary at
    // 365; backwards offsets work; nominal date renders as Gregorian
    for (cal <- Seq(Some("noleap"), Some("365_day"))) {
      assert(lab(d0, cal, 58) == java.time.Instant.parse("2000-02-28T00:00:00Z"))
      assert(lab(d0, cal, 59) == java.time.Instant.parse("2000-03-01T00:00:00Z"),
        s"cal=$cal must skip the nonexistent noleap Feb 29")
      assert(lab(d0, cal, 364) == java.time.Instant.parse("2000-12-31T00:00:00Z"))
      assert(lab(d0, cal, 365) == java.time.Instant.parse("2001-01-01T00:00:00Z"))
      assert(lab(d0, cal, -1) == java.time.Instant.parse("1999-12-31T00:00:00Z"))
      assert(lab("12 hours since 2000-02-28 06:00:00", cal, 2) ==
        java.time.Instant.parse("2000-03-01T06:00:00Z"),
        "sub-day units carry time-of-day through the noleap day math")
    }
    // julian (r18): affine in real time, only the EPOCH date is
    // calendar-dependent — anchor Julian 1969-12-19 ≡ 1970-01-01
    assert(lab("days since 1969-12-19", Some("julian"), 0) ==
      java.time.Instant.parse("1970-01-01T00:00:00Z"))
    assert(lab("days since 1969-12-19", Some("julian"), 13) ==
      java.time.Instant.parse("1970-01-14T00:00:00Z"))
    // Julian 1900-02-29 EXISTS (every 4th year leaps, 1900 included)
    // and is Gregorian 1900-03-13 under the 13-day offset; the
    // Gregorian parse of the same epoch string fails
    assert(lab("hours since 1900-02-29 06:00:00", Some("julian"), 2) ==
      java.time.Instant.parse("1900-03-13T08:00:00Z"))
    intercept[Exception](
      Netcdf.cfTimeScale("days since 1900-02-29", Some("standard"), "t"))
    // Julian 1900-02-30 does not exist even in Julian
    val eJd = intercept[IllegalArgumentException](
      Netcdf.cfTimeScale("days since 1900-02-30", Some("julian"), "t"))
    assert(eJd.getMessage.contains("invalid"), eJd.getMessage)
    // 12-day offset century: Julian 1850-01-01 = Gregorian 1850-01-13
    assert(lab("days since 1850-01-01", Some("julian"), 0) ==
      java.time.Instant.parse("1850-01-13T00:00:00Z"))
    // everything else refuses loudly, naming the calendar
    for (bad <- Seq("360_day", "all_leap", "366_day", "none")) {
      val e = intercept[RuntimeException](
        Netcdf.cfTimeScale(d0, Some(bad), "t"))
      assert(e.getMessage.contains("unsupported") && e.getMessage.contains(bad),
        s"$bad: ${e.getMessage}")
    }
    // the MIXED standard calendar refuses pre-1582-cutover epochs and
    // decoded instants (Julian arithmetic territory); proleptic accepts
    val old = "days since 1500-01-01"
    for (cal <- Seq(None, Some("standard"), Some("gregorian"))) {
      val e = intercept[RuntimeException](Netcdf.cfTimeScale(old, cal, "t"))
      assert(e.getMessage.contains("cutover"), s"$cal: ${e.getMessage}")
    }
    assert(lab(old, Some("proleptic_gregorian"), 0) ==
      java.time.Instant.parse("1500-01-01T00:00:00Z"))
    val e2 = intercept[RuntimeException](
      Netcdf.cfTimeScale("days since 1583-01-01", Some("standard"), "t")
        .label(-365L))
    assert(e2.getMessage.contains("cutover"),
      "a post-cutover epoch with a pre-cutover decoded instant must refuse")
  }

  test("netCDF time scan refuses a 360_day file loudly; noleap file decodes (r18)") {
    val dir = java.nio.file.Files.createTempDirectory("nc_cal").toString
    val p360 = s"$dir/c360.nc"
    Netcdf.writeNetcdf(p360, "v", 4, 4, 5,
      timeAxis = Some((2, i => i.toDouble, "days since 2000-01-01")),
      timeCalendar = Some("360_day"))((x, y, t) => (x + y + t).toDouble)
    val e = intercept[RuntimeException](nct(p360, "v").count())
    assert(e.getMessage.contains("360_day") && e.getMessage.contains("unsupported"))
    // the noleap registry fixture end-to-end: day 59 labels March 1
    val labels = nct(Netcdf.noleapFixturePath(), "t2m")
      .select("epoch", "t_ts").distinct().collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(labels(2) == java.time.Instant.parse("2000-03-01T00:00:00Z"),
      "noleap day 59 must skip the (real) 2000 leap day")
    assert(labels(4) == java.time.Instant.parse("2001-01-01T00:00:00Z"))
  }

  test("CF time units: hand vectors, window prunes epochs, fractional and calendar units refuse") {
    // parser hand-vectors (micros): base 2000-01-02T03:04:05Z
    val base = java.time.Instant.parse("2000-01-02T03:04:05Z").getEpochSecond * 1000000L
    assert(Netcdf.cfTimeUnits("days since 2000-01-02 03:04:05", "t") == ((base, 86400000000L)))
    assert(Netcdf.cfTimeUnits("hours since 2000-01-02T03:04:05Z", "t") == ((base, 3600000000L)))
    assert(Netcdf.cfTimeUnits("3 hours since 2000-01-02 03:04:05", "t") == ((base, 10800000000L)))
    assert(Netcdf.cfTimeUnits("seconds since 2000-01-02 03:04:05 UTC", "t") == ((base, 1000000L)))
    assert(Netcdf.cfTimeUnits("minutes since 2000-01-02", "t") ==
      ((java.time.Instant.parse("2000-01-02T00:00:00Z").getEpochSecond * 1000000L, 60000000L)))
    // calendar-dependent and non-UTC units refuse loudly
    for (bad <- Seq("months since 2000-01-01", "years since 2000-01-01",
        "hours since 2000-01-01 00:00:00 +05:30", "fortnights since 2000-01-01")) {
      val e = intercept[RuntimeException](Netcdf.cfTimeUnits(bad, "t"))
      assert(e.getMessage.contains("unsupported"), s"$bad: ${e.getMessage}")
    }
    // full decode: no window → all 5 epochs with exact timestamps
    val p = Netcdf.timeFixturePath()
    val all = nct(p, "t2m").select("epoch", "t_ts")
      .distinct().collect().map(r => (r.getInt(0), r.getTimestamp(1))).toMap
    assert(all.size == Netcdf.NcTimeEpochs)
    val b = java.time.Instant.parse("2020-03-01T06:00:00Z")
    for (i <- 0 until Netcdf.NcTimeEpochs)
      assert(all(i).toInstant == b.plusSeconds((7L * i + 3) * 3600), s"epoch $i: ${all(i)}")
    // window [epoch1, epoch3] keeps exactly {1, 2, 3}: the lower bound
    // EQUALS epoch 1's timestamp (inclusive), 0 and 4 cost zero reads
    val win = (java.sql.Timestamp.from(b.plusSeconds(10 * 3600)),
      java.sql.Timestamp.from(b.plusSeconds(24 * 3600)))
    val kept = nct(p, "t2m").filter(col("t_ts").between(win._1, win._2))
      .select("epoch").distinct().collect().map(_.getInt(0)).toSet
    assert(kept == Set(1, 2, 3), kept.toString)
    // fractional time value refuses loudly (no silent rounding)
    val pf = tmpFile("time_frac.nc")
    Netcdf.writeNetcdf(pf, "v", 3, 3, 6, coordVars = false,
      timeAxis = Some((2, i => i + 0.5, "hours since 2020-01-01")))(
      (x, y, _) => (x + y).toDouble)
    val ef = intercept[IllegalArgumentException](nct(pf, "v"))
    assert(ef.getMessage.contains("integral"), ef.getMessage)
    // missing units attribute refuses loudly
    val pn = tmpFile("time_nounits.nc")
    Netcdf.writeNetcdf(pn, "v", 3, 3, 6, coordVars = false, epochs = 2)(
      (x, y, t) => (x + y + t).toDouble)
    val en = intercept[RuntimeException](nct(pn, "v", "v"))
    assert(en.getMessage.contains("units") || en.getMessage.contains("rank"), en.getMessage)
  }

  test("header growth: a header larger than the first read parses fine") {
    val p = tmpFile("big_header.nc")
    // ~12 KB of attribute padding via many coord-style vars is overkill;
    // instead write a long variable name forcing the header past 8 KB
    val longName = "v" + ("_x" * 5000)
    Netcdf.writeNetcdf(p, longName, 3, 3, 6, coordVars = false)(
      (x, y, _) => (x + y).toDouble)
    val got = nc(p, longName).collect()
    assert(got.length == 9)
  }
}
