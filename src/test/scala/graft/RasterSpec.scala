package graft

import graft.zonal.Raster

/** The raster reader against byte layouts built INDEPENDENTLY of
  * [[Raster.writeTiff]] — the oracle's formula replay catches a broken
  * writer+reader pair, these catch a reader bug the writer compensates
  * for (endianness, inline vs offset values, padding, sample types).
  */
class RasterSpec extends SparkSuite {

  test("raster_affine_warp: full 41×35 target, forward map inverts, raster never shuffles before the sort") {
    val rows = q("raster_affine_warp").collect()
    assert(rows.length == 41 * 35, s"target grid incomplete: ${rows.length}")
    rows.foreach { r =>
      val tx = r.getLong(r.fieldIndex("tx")); val ty = r.getLong(r.fieldIndex("ty"))
      val sx = r.getInt(r.fieldIndex("src_x")); val sy = r.getInt(r.fieldIndex("src_y"))
      assert(sx == 2 * tx + ty / 4 + 1 && sy == 2 * ty + 1, s"($tx,$ty) -> ($sx,$sy)")
      assert(r.getDouble(r.fieldIndex("value")) == ((31 * sx + 17 * sy) % 997).toDouble)
    }
    // inverse-map plan: pure filter+project over the scan — no join
    val p = q("raster_affine_warp").queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"warp gathered via a join:\n${p.take(2000)}")
  }

  test("raster_tri and raster_curvature: interior cells match local recompute") {
    def v(x: Int, y: Int): Long = Raster.fixtureValue(x, y).toLong
    val tri = q("raster_tri").collect().map(r =>
      ((r.getInt(0), r.getInt(1)), r.getDouble(r.fieldIndex("tri")))).toMap
    assert(tri.size == (Raster.FixW - 2) * (Raster.FixH - 2), s"tri interior: ${tri.size}")
    val expTri = (for { x <- 1 until Raster.FixW - 1; y <- 1 until Raster.FixH - 1 } yield {
      val s = (for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 }
        yield math.abs(v(x + dx, y + dy) - v(x, y))).sum
      ((x, y), s.toDouble / 8)
    }).toMap
    assert(tri == expTri, {
      val bad = tri.collect { case (k, g) if expTri(k) != g => s"$k got $g want ${expTri(k)}" }
      s"${bad.size} TRI cells wrong, e.g. ${bad.take(3).mkString("; ")}"
    })
    val curv = q("raster_curvature").collect().map(r =>
      ((r.getInt(0), r.getInt(1)), r.getLong(r.fieldIndex("curv")))).toMap
    assert(curv.size == (Raster.FixW - 2) * (Raster.FixH - 2), s"curv interior: ${curv.size}")
    val expCurv = (for { x <- 1 until Raster.FixW - 1; y <- 1 until Raster.FixH - 1 }
      yield ((x, y), v(x + 1, y) + v(x - 1, y) + v(x, y + 1) + v(x, y - 1) - 4 * v(x, y))).toMap
    assert(curv == expCurv, {
      val bad = curv.collect { case (k, g) if expCurv(k) != g => s"$k got $g want ${expCurv(k)}" }
      s"${bad.size} curvature cells wrong, e.g. ${bad.take(3).mkString("; ")}"
    })
    assert(expCurv.values.exists(_ < 0) && expCurv.values.exists(_ > 0),
      "fixture should exercise both ridge and channel curvature signs")
  }

  test("raster_contour: flags exactly the formula's level-change edges") {
    def lvl(x: Int, y: Int): Long = ((31 * x + 17 * y) % 997) / 100
    val expected = (for { x <- 0 until 90; y <- 0 until 70 } yield {
      val er = x + 1 < 90 && lvl(x + 1, y) != lvl(x, y)
      val ed = y + 1 < 70 && lvl(x, y + 1) != lvl(x, y)
      ((x, y), (er, ed))
    }).filter { case (_, (er, ed)) => er || ed }.toMap
    val got = q("raster_contour").collect().map { r =>
      ((r.getInt(0), r.getInt(1)),
        (r.getBoolean(r.fieldIndex("edge_right")), r.getBoolean(r.fieldIndex("edge_down"))))
    }.toMap
    assert(got == expected,
      s"contour mismatch: ${got.size} flagged vs ${expected.size} expected")
  }

  test("raster_flow_d8: every cell carries the steepest-drop ESRI code, pits and flats 0") {
    // local recomputation of the whole 90×70 grid: receiver→neighbor
    // offsets carry ESRI y-down codes E=1, SE=2, S=4, SW=8, W=16,
    // NW=32, N=64, NE=128; tie → lowest code; drop ≤ 0 → 0
    val code = Map((1, 0) -> 1, (1, 1) -> 2, (0, 1) -> 4, (-1, 1) -> 8,
      (-1, 0) -> 16, (-1, -1) -> 32, (0, -1) -> 64, (1, -1) -> 128)
    def v(x: Int, y: Int): Long = Raster.fixtureValue(x, y).toLong
    val expected = (for { x <- 0 until Raster.FixW; y <- 0 until Raster.FixH } yield {
      val nb = for {
        (off, c) <- code.toSeq
        nx = x + off._1; ny = y + off._2
        if nx >= 0 && nx < Raster.FixW && ny >= 0 && ny < Raster.FixH
      } yield (v(x, y) - v(nx, ny), c)
      val (drop, dir) = nb.maxBy { case (d, c) => (d, -c) }
      ((x, y), (if (drop > 0) dir.toLong else 0L, drop))
    }).toMap
    val got = q("raster_flow_d8").collect().map { r =>
      ((r.getInt(0), r.getInt(1)),
        (r.getAs[Number](r.fieldIndex("d8")).longValue,
          r.getAs[Number](r.fieldIndex("max_drop")).longValue))
    }.toMap
    assert(got.size == Raster.FixW * Raster.FixH)
    assert(got == expected, {
      val bad = got.collect { case (k, g) if expected(k) != g => s"$k got $g want ${expected(k)}" }
      s"${bad.size} cells wrong, e.g. ${bad.take(3).mkString("; ")}"
    })
    assert(expected.values.exists(_._1 == 0L), "fixture should contain at least one pit/flat")
  }

  test("raster_flow_acc: doubling matches a sequential walk; conservation holds") {
    // sequential reference: follow each cell's steepest-descent path,
    // counting every visited cell — the O(n·depth) walk the doubling
    // loop must reproduce exactly
    val code = Map((1, 0) -> 1, (1, 1) -> 2, (0, 1) -> 4, (-1, 1) -> 8,
      (-1, 0) -> 16, (-1, -1) -> 32, (0, -1) -> 64, (1, -1) -> 128)
    def v(x: Int, y: Int): Long = Raster.fixtureValue(x, y).toLong
    val succ = (for { x <- 0 until Raster.FixW; y <- 0 until Raster.FixH } yield {
      val nb = for {
        (off, c) <- code.toSeq
        nx = x + off._1; ny = y + off._2
        if nx >= 0 && nx < Raster.FixW && ny >= 0 && ny < Raster.FixH
      } yield (v(x, y) - v(nx, ny), c, (nx, ny))
      val (drop, _, n) = nb.maxBy { case (d, c, _) => (d, -c) }
      (x, y) -> (if (drop > 0) Some(n) else None)
    }).toMap
    val acc = scala.collection.mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)
    var pathCells = 0L
    for (u <- succ.keys) {
      var c: Option[(Int, Int)] = Some(u)
      while (c.isDefined) { acc(c.get) += 1; pathCells += 1; c = succ(c.get) }
    }
    val got = q("raster_flow_acc").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(r.fieldIndex("acc"))).toMap
    assert(got.size == Raster.FixW * Raster.FixH)
    assert(got == acc.toMap, {
      val bad = got.collect { case (k, g) if acc(k) != g => s"$k got $g want ${acc(k)}" }
      s"${bad.size} cells wrong, e.g. ${bad.take(3).mkString("; ")}"
    })
    // conservation: Σ acc = Σ path lengths; pits absorb everything upstream
    assert(got.values.sum == pathCells)
    assert(got.values.max > 100, "fixture should have a real drainage concentration")
  }

  test("zonal_change_matrix: per-zone counts sum to the 8×8 envelope, classes in range") {
    val rows = q("zonal_change_matrix").collect()
    val perZone = rows.groupBy(_.getAs[Number](0).longValue)
      .view.mapValues(_.map(_.getAs[Number](3).longValue).sum).toMap
    assert(perZone.size == 25 && perZone.values.forall(_ == 64L),
      s"per-zone totals: ${perZone.toSeq.sortBy(_._1).take(5)}")
    rows.foreach { r =>
      val a = r.getAs[Number](1).longValue; val b = r.getAs[Number](2).longValue
      assert(a >= 0 && a <= 3 && b >= 0 && b <= 3, s"class out of range: ($a,$b)")
    }
    // the two epochs genuinely differ: some off-diagonal mass exists
    assert(rows.exists(r =>
      r.getAs[Number](1).longValue != r.getAs[Number](2).longValue))
  }

  test("raster_transect: DDA line samples the exact fixture cells, probe side broadcast") {
    val rows = q("raster_transect").collect()
    assert(rows.length == 25 * 8, s"expected 200 samples, got ${rows.length}")
    rows.foreach { r =>
      val z = r.getAs[Number](r.fieldIndex("zone_id")).longValue
      val t = r.getAs[Number](r.fieldIndex("t")).longValue
      val x = r.getAs[Number](r.fieldIndex("x")).longValue
      val y = r.getAs[Number](r.fieldIndex("y")).longValue
      assert(x == (z * 2) % 56 + t && y == (z * 3) % 56 + (2 * t * 3 + 7) / 14,
        s"zone $z t=$t at ($x,$y)")
      assert(r.getDouble(r.fieldIndex("value")) == Raster.fixtureValue(x.toInt, y.toInt))
    }
    // the raster side must not shuffle: probe set broadcasts
    val p = q("raster_transect").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"transect probe not broadcast:\n${p.take(1500)}")
  }

  test("roundtrip: written GeoTIFF scans back to the exact formula, edge tiles clipped") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val p = s"$tmp/rt.tif"
    Raster.writeTiff(p, 37, 29, 16, 16)((x, y) => ((x * 7 + y * 3) % 11).toDouble)
    val got = Raster.scanTiff(spark, p).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 37 * 29, "padding rows leaked or pixels dropped")
    for (x <- 0 until 37; y <- 0 until 29)
      assert(got((x, y)) == ((x * 7 + y * 3) % 11).toDouble, s"pixel ($x,$y)")
    graft.core.Fs.rmTree(tmp)
  }

  /** Hand-built BIG-endian float32 TIFF: 3×2 px, 2×2 tiles (2 tiles, the
    * second right-padded), f(x,y) = 10x + y.
    */
  private def beFloat32Bytes(compression: Int): Array[Byte] = {
    val nE = 10
    val ifdOff = 8
    val offArr = ifdOff + 2 + nE * 12 + 4
    val cntArr = offArr + 8
    val dataOff = cntArr + 8
    val tileBytes = 2 * 2 * 4
    val buf = java.nio.ByteBuffer.allocate(dataOff + 2 * tileBytes) // BIG_ENDIAN default
    buf.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdOff)
    buf.putShort(nE.toShort)
    def e(tag: Int, tpe: Int, cnt: Int, v: Int): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(cnt)
      // inline SHORT is left-justified in the 4-byte field
      if (tpe == 3 && cnt == 1) { buf.putShort(v.toShort); buf.putShort(0) }
      else buf.putInt(v)
    }
    e(256, 4, 1, 3); e(257, 4, 1, 2)
    e(258, 3, 1, 32); e(259, 3, 1, compression); e(277, 3, 1, 1)
    e(322, 4, 1, 2); e(323, 4, 1, 2)
    e(324, 4, 2, offArr); e(325, 4, 2, cntArr)
    e(339, 3, 1, 3)
    buf.putInt(0) // no next IFD
    buf.putInt(dataOff); buf.putInt(dataOff + tileBytes)
    buf.putInt(tileBytes); buf.putInt(tileBytes)
    // tile 0: rows y=0,1 of x=0,1; tile 1: x=2 plus right padding
    Seq(0f, 10f, 1f, 11f).foreach(buf.putFloat)
    Seq(20f, -999f, 21f, -999f).foreach(buf.putFloat) // padding must be clipped
    buf.array()
  }

  test("big-endian float32 with padded edge tile decodes exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val p = s"$tmp/be.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), beFloat32Bytes(compression = 1))
    val got = Raster.scanTiff(spark, p).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0, 0) -> 0.0, (1, 0) -> 10.0, (2, 0) -> 20.0,
      (0, 1) -> 1.0, (1, 1) -> 11.0, (2, 1) -> 21.0))
    graft.core.Fs.rmTree(tmp)
  }

  test("unsupported compression / non-TIFF / corrupt LZW fail loudly, never misread") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    // JPEG compression is out of scope -> rejected at readMeta
    val pj = s"$tmp/jpeg.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(pj), beFloat32Bytes(compression = 7))
    val e1 = intercept[IllegalArgumentException](Raster.readMeta(pj))
    assert(e1.getMessage.contains("compression"))
    val pn = s"$tmp/not.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(pn), "PKjunk".getBytes)
    intercept[IllegalArgumentException](Raster.readMeta(pn))
    // a file DECLARING LZW whose tile bytes are raw floats: readMeta
    // accepts the header, the scan must then fail loudly (the stream
    // doesn't open with ClearCode), never emit garbage cells
    val pc = s"$tmp/lzw_declared.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(pc), beFloat32Bytes(compression = 5))
    val e2 = intercept[Exception](Raster.scanTiff(spark, pc).collect())
    assert(e2.getMessage != null && e2.getMessage.contains("LZW"))
    graft.core.Fs.rmTree(tmp)
  }

  test("int32 single-tile image with inline offset entries decodes (incl. negatives)") {
    // 2×2 image exactly one 2×2 tile: count-1 LONG entries stay inline
    val nE = 10
    val ifdOff = 8
    val dataOff = ifdOff + 2 + nE * 12 + 4
    val buf = java.nio.ByteBuffer.allocate(dataOff + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    buf.putShort(nE.toShort)
    def e(tag: Int, tpe: Int, cnt: Int, v: Int): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(cnt)
      if (tpe == 3 && cnt == 1) { buf.putShort(v.toShort); buf.putShort(0) }
      else buf.putInt(v)
    }
    e(256, 4, 1, 2); e(257, 4, 1, 2)
    e(258, 3, 1, 32); e(259, 3, 1, 1); e(277, 3, 1, 1)
    e(322, 4, 1, 2); e(323, 4, 1, 2)
    e(324, 4, 1, dataOff); e(325, 4, 1, 16)
    e(339, 3, 1, 2) // signed int
    buf.putInt(0)
    Seq(7, -5, 0, 123456).foreach(buf.putInt)
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val p = s"$tmp/i32.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), buf.array())
    val got = Raster.scanTiff(spark, p).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0, 0) -> 7.0, (1, 0) -> -5.0, (0, 1) -> 0.0, (1, 1) -> 123456.0))
    graft.core.Fs.rmTree(tmp)
  }

  test("window scan prunes the manifest to overlapping tiles only") {
    val p = Raster.fixturePath()
    val m = Raster.readMeta(p)
    // fixture: 90×70 at 32×32 tiles → 3×3 manifest; window 10..40 × 5..35
    // overlaps exactly the 2×2 upper-left tiles
    assert(Raster.tileRefs(m, p).size == 9)
    val pruned = Raster.windowRefs(m, p, 10, 40, 5, 35)
    assert(pruned.size == 4, s"expected 4 pruned tiles, got ${pruned.size}")
    assert(pruned.forall(t => t.tx0 <= 40 && t.ty0 <= 35))
    // and the windowed result equals the full scan filtered
    val full = Raster.scanTiff(spark, p)
      .filter(org.apache.spark.sql.functions.expr(
        "cell_x BETWEEN 10 AND 40 AND cell_y BETWEEN 5 AND 35"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val win = Raster.scanTiffWindow(spark, p, 10, 40, 5, 35)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(win == full && win.size == 31 * 31)
  }

  test("multiband: chunky interleave decodes band-major per pixel; single-band API refuses") {
    // hand-built tile: 2×1 px, 2 bands, float64 LE — samples are
    // pixel-interleaved (b0, b1 per pixel), NOT band planes
    val t = Raster.TileRef("mem", 0, 32, 0, 0, 2, 1, 2, 1, 64, 3, bigEndian = false, bands = 2)
    val buf = java.nio.ByteBuffer.allocate(2 * 1 * 2 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 2.0, 3.0, 4.0).foreach(buf.putDouble)
    val got = Raster.decodeTileBands(buf.array(), t).toSet
    assert(got == Set((0, 0, 0, 1.0), (0, 0, 1, 2.0), (1, 0, 0, 3.0), (1, 0, 1, 4.0)))
    // writer → reader roundtrip on the 2-band fixture, padded both ways
    val rows = Raster.scanTiffBands(spark, Raster.mbFixturePath()).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(rows.size == Raster.MbW * Raster.MbH * Raster.MbBands)
    assert(rows((47, 39, 1)) == Raster.mbValue(47, 39, 1))
    assert(rows((0, 0, 0)) == Raster.mbValue(0, 0, 0))
    // the single-band scan on a multiband file fails loudly
    val e = intercept[IllegalArgumentException](Raster.scanTiff(spark, Raster.mbFixturePath()))
    assert(e.getMessage.contains("bands"))
  }

  test("planar config 2: band-separate blocks decode identically to chunky; plane-major manifest") {
    // hand-built PLANE block: 2×1 px, plane 1 of a 2-band image — stride-1
    // samples of that band only (contrast with the chunky test above)
    val t = Raster.TileRef("mem", 0, 16, 0, 0, 2, 1, 2, 1, 64, 3, bigEndian = false,
      bands = 2, planarBand = 1)
    val buf = java.nio.ByteBuffer.allocate(2 * 1 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(2.0, 4.0).foreach(buf.putDouble)
    assert(Raster.decodeTileBands(buf.array(), t).toSet ==
      Set((0, 0, 1, 2.0), (1, 0, 1, 4.0)))
    // the planar fixture (Deflate + float predictor, INTERLEAVE=BAND)
    // reads back cell-for-cell equal to the chunky fixture
    val m = Raster.readMeta(Raster.planarFixturePath())
    assert(m.planar && m.bands == Raster.MbBands)
    val nTiles = m.tilesAcross * m.tilesDown
    assert(m.tileOffsets.length == nTiles * Raster.MbBands) // plane-major
    val refs = Raster.tileRefs(m, Raster.planarFixturePath())
    assert(refs.length == nTiles * Raster.MbBands &&
      refs.map(_.planarBand).distinct.sorted == Seq(0, 1))
    val planar = Raster.scanTiffBands(spark, Raster.planarFixturePath()).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    val chunky = Raster.scanTiffBands(spark, Raster.mbFixturePath()).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(planar == chunky)
    // STRIPED planar (plane-major strip order, row-clipped edge strips)
    // decodes identically too — the strip and plane axes compose
    val sp = s"${System.getProperty("java.io.tmpdir")}/graft_io/raster_planar_striped.tif"
    Raster.writeTiffBandsOpts(sp, Raster.MbW, Raster.MbH, 32, 32,
      Raster.WriteOpts(striped = true, rowsPerStrip = 16, bands = Raster.MbBands,
        planar = true))(Raster.mbValue)
    val striped = Raster.scanTiffBands(spark, sp).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(striped == chunky)
  }

  test("overview chain: level 0 equals the flat file, level 1 is stride-2, level 2 is absent") {
    val p = Raster.ovFixturePath()
    // level 0 of the chained file scans identically to the flat fixture
    val lv0 = Raster.scanTiffLevel(spark, p, 0).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(lv0.size == Raster.FixW * Raster.FixH)
    assert(lv0((89, 69)) == Raster.fixtureValue(89, 69))
    // level 1: half dims, stride-2 samples
    val lv1 = Raster.scanTiffLevel(spark, p, 1).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(lv1.size == ((Raster.FixW + 1) / 2) * ((Raster.FixH + 1) / 2))
    assert(lv1((10, 10)) == Raster.fixtureValue(20, 20))
    // a level past the chain end fails loudly
    val e = intercept[IllegalArgumentException](Raster.readMeta(p, 2))
    assert(e.getMessage.contains("chain ends"))
    // the flat (no-overview) fixture has no level 1
    intercept[IllegalArgumentException](Raster.readMeta(Raster.fixturePath(), 1))
  }

  test("sink_raster_tiles writes one parseable single-tile GeoTIFF per 16×16 tile") {
    q("sink_raster_tiles").collect() // runs the sink + roundtrip
    val dir = new java.io.File(s"${System.getProperty("java.io.tmpdir")}/graft_io/raster_sink")
    val files = dir.listFiles().filter(_.getName.endsWith(".tif"))
    assert(files.length == 16, s"expected 16 tile files, got ${files.length}")
    files.foreach { f =>
      val m = Raster.readMeta(f.getAbsolutePath)
      assert(m.width == 16 && m.height == 16 && m.tileOffsets.length == 1,
        s"${f.getName} is not a single-tile 16×16 GeoTIFF")
    }
  }

  test("zonal_raster_stats: every zone inside the raster, counts equal envelope areas") {
    val df = q("zonal_raster_stats")
    // zone envelopes are 8×8 and the raster covers the whole lattice →
    // every zone sees exactly 64 raster cells (one per pixel, no
    // lineitem multiplicity here)
    assert(df.count() == 25)
    assert(df.filter(org.apache.spark.sql.functions.col("n_cells") =!= 64).count() == 0)
  }

  // ---- TIFF codecs (round 5): pinned vectors are hand-assembled from
  // the TIFF-6 spec, so an encoder bug can't hide behind its own
  // decoder (and vice versa) ----

  test("LZW: pinned encode vector, KwKwK decode vector, width-transition roundtrip") {
    import graft.zonal.TiffCodec
    // [7,7,7,8] -> codes 256,7,258,8,257 at 9 bits, packed MSB-first
    val enc = TiffCodec.lzwEncode(Array[Byte](7, 7, 7, 8))
    assert(enc.toSeq == Seq(0x80, 0x01, 0xE0, 0x40, 0x88, 0x08).map(_.toByte),
      s"got ${enc.map(b => f"0x${b & 0xff}%02X").mkString(",")}")
    assert(TiffCodec.lzwDecode(enc, 4).toSeq == Seq[Byte](7, 7, 7, 8))
    // hand-built stream with the KwKwK case (code == next table entry):
    // codes 256,5,258,258,257 -> [5,5,5,5,5]
    val kwk = Array(0x80, 0x01, 0x60, 0x50, 0x28, 0x08).map(_.toByte)
    assert(TiffCodec.lzwDecode(kwk, 5).toSeq == Seq[Byte](5, 5, 5, 5, 5))
    // deterministic pseudo-random 200k bytes: crosses the 9->10->11->12
    // bit widths and the 4094-entry table reset, both directions
    val big = Array.tabulate(200000)(i => ((i * 2654435761L >>> 13) & 0xff).toByte)
    assert(TiffCodec.lzwDecode(TiffCodec.lzwEncode(big), big.length).toSeq == big.toSeq)
    // truncation fails loudly
    val cut = TiffCodec.lzwEncode(big).take(1000)
    intercept[IllegalArgumentException](TiffCodec.lzwDecode(cut, big.length))
  }

  test("PackBits: pinned spec vectors, noop byte, roundtrip, truncation and overrun fail loudly") {
    import graft.zonal.TiffCodec
    // the TIFF-6 spec's own worked example: literal(3) AA BB CC,
    // repeat(-2)=3x DD, noop(-128), literal(0) EE
    val stream = Array(0x02, 0xAA, 0xBB, 0xCC, 0xFE, 0xDD, 0x80, 0x00, 0xEE)
      .map(_.toByte)
    assert(TiffCodec.packBitsDecode(stream, 7).toSeq
      == Seq(0xAA, 0xBB, 0xCC, 0xDD, 0xDD, 0xDD, 0xEE).map(_.toByte))
    // encoder pins: a pure run becomes one repeat packet; mixed content
    // splits at the run boundary
    assert(TiffCodec.packBitsEncodeRows(Array.fill(5)(9.toByte), 5).toSeq
      == Seq((1 - 5).toByte, 9.toByte))
    val mixed = Array[Byte](1, 2, 3, 3, 3, 4)
    assert(TiffCodec.packBitsDecode(
      TiffCodec.packBitsEncodeRows(mixed, 6), 6).toSeq == mixed.toSeq)
    // rows pack independently: a run crossing the row boundary must NOT
    // merge (two repeat packets, not one)
    val twoRows = Array.fill(8)(5.toByte)
    assert(TiffCodec.packBitsEncodeRows(twoRows, 4).toSeq
      == Seq((1 - 4).toByte, 5.toByte, (1 - 4).toByte, 5.toByte))
    // long literal + >128 run crosses the packet cap both ways
    val big = Array.tabulate(100000)(i =>
      (if (i % 700 < 350) i * 37 % 251 else 42).toByte)
    assert(TiffCodec.packBitsDecode(
      TiffCodec.packBitsEncodeRows(big, 1000), big.length).toSeq == big.toSeq)
    // truncation and trailing garbage fail loudly
    intercept[IllegalArgumentException](
      TiffCodec.packBitsDecode(stream.take(5), 7))
    intercept[IllegalArgumentException](
      TiffCodec.packBitsDecode(stream :+ 0x00.toByte, 7))
  }

  test("deflate: exact-length contract, roundtrip, truncation fails loudly") {
    import graft.zonal.TiffCodec
    val data = Array.tabulate(65536)(i => ((i * 31 + i / 7) & 0xff).toByte)
    val z = TiffCodec.deflate(data)
    assert(z.length < data.length)
    assert(TiffCodec.inflate(z, data.length).toSeq == data.toSeq)
    intercept[IllegalArgumentException](TiffCodec.inflate(z.take(z.length / 2), data.length))
  }

  test("zstd: exact-length contract, roundtrip, truncation and wrong length fail loudly") {
    import graft.zonal.TiffCodec
    val data = Array.tabulate(65536)(i => ((i * 31 + i / 7) & 0xff).toByte)
    val z = TiffCodec.zstdCompress(data)
    assert(z.length < data.length)
    assert(TiffCodec.zstdDecompress(z, data.length).toSeq == data.toSeq)
    // the zstd frame header declares its content size — a mismatched
    // expectation fails BEFORE any decode work
    intercept[IllegalArgumentException](TiffCodec.zstdDecompress(z, data.length - 1))
    intercept[Exception](TiffCodec.zstdDecompress(z.take(z.length / 2), data.length))
    // end-to-end: the ZSTD+predictor-3 fixture scans back to the formula
    val rows = Raster.scanTiff(spark, Raster.zstdFixturePath()).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(rows.size == Raster.FixW * Raster.FixH)
    assert(rows((89, 69)) == Raster.floatFixtureValue(89, 69))
    assert(rows((3, 4)) == Raster.floatFixtureValue(3, 4))
  }

  test("uint8/int16: signedness per SampleFormat, modular predictor-2, full fixture roundtrips") {
    import graft.zonal.TiffCodec
    // byte predictor wraps modularly: 200 then 100 stores diff -100 ≡ 156
    val b8 = Array(200.toByte, 100.toByte, 0.toByte)
    TiffCodec.applyPredictor2Int8(b8, rowPx = 3, rows = 1, bands = 1)
    assert((b8(1) & 0xff) == 156, s"got ${b8(1) & 0xff}")
    TiffCodec.undoPredictor2Int8(b8, rowPx = 3, rows = 1, bands = 1)
    assert((b8(0) & 0xff) == 200 && (b8(1) & 0xff) == 100 && (b8(2) & 0xff) == 0)
    // int16 predictor with negatives
    val s16 = Array[Short](-500, 300, -2)
    val bb = java.nio.ByteBuffer.allocate(6).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    s16.foreach(bb.putShort)
    val arr = bb.array()
    TiffCodec.applyPredictor2Int16(arr, rowPx = 3, rows = 1, bands = 1, bigEndian = false)
    TiffCodec.undoPredictor2Int16(arr, rowPx = 3, rows = 1, bands = 1, bigEndian = false)
    val rb = java.nio.ByteBuffer.wrap(arr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(Seq(rb.getShort(0), rb.getShort(2), rb.getShort(4)) == Seq(-500, 300, -2))
    // decode signedness: the same 16-bit pattern 0xFF38 reads as 65336
    // under SampleFormat 1 and -200 under SampleFormat 2
    val raw = java.nio.ByteBuffer.allocate(2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort((-200).toShort).array()
    def one(fmt: Int) = Raster.decodeTileBands(raw,
      Raster.TileRef("mem", 0, 2, 0, 0, 1, 1, 1, 1, 16, fmt, bigEndian = false, bands = 1))
      .next()._4
    assert(one(2) == -200.0 && one(1) == 65336.0)
    // full fixtures scan back to their formulas (deflate+pred2 uint8,
    // LZW+pred2 int16 — negative through positive)
    val u = Raster.scanTiff(spark, Raster.uint8FixturePath()).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(u((89, 69)) == Raster.uint8FixtureValue(89, 69) && u.size == 6300)
    val i16 = Raster.scanTiff(spark, Raster.int16FixturePath()).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(i16((0, 0)) == -498.0 && i16((89, 69)) == Raster.int16FixtureValue(89, 69))
    assert(i16.values.min < 0 && i16.values.max > 0)
  }

  test("predictor 2: apply/undo roundtrip with negatives and 2 bands") {
    import graft.zonal.TiffCodec
    val vals = Array(7, -5, 123456, 0, -1, 42, Int.MinValue + 3, 9)
    val bb = java.nio.ByteBuffer.allocate(vals.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putInt)
    val bytes = bb.array().clone()
    TiffCodec.applyPredictor2Int32(bytes, rowPx = 2, rows = 2, bands = 2, bigEndian = false)
    assert(bytes.toSeq != bb.array().toSeq, "differencing changed nothing")
    TiffCodec.undoPredictor2Int32(bytes, rowPx = 2, rows = 2, bands = 2, bigEndian = false)
    assert(bytes.toSeq == bb.array().toSeq)
  }

  test("stats manifest reads both field orders (legacy path-first tolerated)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stats").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/_tile_stats"),
      ("10,20,1.5,9.5,/data/t,iles/a.tif\n" +  // current order, comma in path
        "/data/b.tif,30,40,-2.0,7.25\n")        // legacy pre-r6 order
        .getBytes("UTF-8"))
    val got = Raster.readStatsManifest(tmp)
    assert(got == Seq(
      Raster.TileStats("/data/t,iles/a.tif", 10, 20, 1.5, 9.5),
      Raster.TileStats("/data/b.tif", 30, 40, -2.0, 7.25)), got.toString)
    graft.core.Fs.rmTree(tmp)
  }

  test("predictor 3: decoder pinned on hand-built bytes; float64 2-band roundtrip") {
    import graft.zonal.TiffCodec
    // hand-derived per TechNote 3: row of two LE float32 samples
    // (1.5f = 0x3FC00000, 2.5f = 0x40200000) → MSB-first byte planes
    // [3F,40 | C0,20 | 00,00 | 00,00] → stride-1 byte differencing
    val enc = Array(0x3F, 0x01, 0x80, 0x60, 0xE0, 0x00, 0x00, 0x00).map(_.toByte)
    TiffCodec.undoPredictor3Float(enc, rowPx = 2, rows = 1, bands = 1,
      bytesPer = 4, bigEndian = false)
    val fb = java.nio.ByteBuffer.wrap(enc).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(fb.getFloat(0) == 1.5f && fb.getFloat(4) == 2.5f,
      s"hand-built decode wrong: ${fb.getFloat(0)}, ${fb.getFloat(4)}")
    // float64 2-band 2-row roundtrip (negatives, NaN payload bits kept)
    val vals = Array(1.25, -3.75, 0.0, 1e300, -2.5e-20, 7.0, 42.125, -0.0)
    val bb = java.nio.ByteBuffer.allocate(vals.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putDouble)
    val bytes = bb.array().clone()
    TiffCodec.applyPredictor3Float(bytes, rowPx = 2, rows = 2, bands = 2,
      bytesPer = 8, bigEndian = false)
    assert(bytes.toSeq != bb.array().toSeq, "fp differencing changed nothing")
    TiffCodec.undoPredictor3Float(bytes, rowPx = 2, rows = 2, bands = 2,
      bytesPer = 8, bigEndian = false)
    assert(bytes.toSeq == bb.array().toSeq)
  }

  test("codec/layout fixtures all scan back to the exact formula") {
    val paths = Seq(
      "deflate" -> Raster.deflateFixturePath(),
      "lzw" -> Raster.lzwFixturePath(),
      "striped" -> Raster.stripedFixturePath(),
      "predictor" -> Raster.predictorFixturePath(),
      "bigtiff" -> Raster.bigTiffFixturePath())
    for ((tag, p) <- paths) {
      val got = Raster.scanTiff(spark, p).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == Raster.FixW * Raster.FixH, s"$tag: wrong cell count ${got.size}")
      for (x <- Seq(0, 31, 32, 63, 89); y <- Seq(0, 31, 32, 69))
        assert(got((x, y)) == Raster.fixtureValue(x, y), s"$tag: pixel ($x,$y)")
    }
  }

  test("hand-built striped LE float64 file decodes (writer-independent strip path)") {
    // 3x5 px, RowsPerStrip=2 -> 3 strips (2+2+1 rows), f(x,y) = 10x + y
    val nE = 10
    val ifdOff = 8
    val offArr = ifdOff + 2 + nE * 12 + 4
    val cntArr = offArr + 12
    val dataOff = cntArr + 12
    val strips = Seq(2, 2, 1)
    val buf = java.nio.ByteBuffer.allocate(dataOff + 5 * 3 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    buf.putShort(nE.toShort)
    def e(tag: Int, tpe: Int, cnt: Int, v: Int): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(cnt)
      if (tpe == 3 && cnt == 1) { buf.putShort(v.toShort); buf.putShort(0) }
      else buf.putInt(v)
    }
    e(256, 4, 1, 3); e(257, 4, 1, 5)
    e(258, 3, 1, 64); e(259, 3, 1, 1)
    e(273, 4, 3, offArr) // StripOffsets
    e(277, 3, 1, 1)
    e(278, 4, 1, 2)      // RowsPerStrip
    e(279, 4, 3, cntArr) // StripByteCounts
    e(284, 3, 1, 1)
    e(339, 3, 1, 3)
    buf.putInt(0)
    var off = dataOff
    strips.foreach { rows => buf.putInt(off); off += rows * 3 * 8 }
    strips.foreach { rows => buf.putInt(rows * 3 * 8) }
    for (y <- 0 until 5; x <- 0 until 3) buf.putDouble(10.0 * x + y)
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val p = s"$tmp/striped.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), buf.array())
    val m = Raster.readMeta(p)
    assert(m.striped && m.tileW == 3 && m.tileH == 2 && m.tileOffsets.length == 3)
    val got = Raster.scanTiff(spark, p).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 15)
    for (x <- 0 until 3; y <- 0 until 5) assert(got((x, y)) == 10.0 * x + y, s"($x,$y)")
    graft.core.Fs.rmTree(tmp)
  }

  test("BigTIFF header parses; nodata tag parses and masks; missing nodata fails loudly") {
    val m = Raster.readMeta(Raster.bigTiffFixturePath())
    assert(m.width == Raster.FixW && m.height == Raster.FixH
      && m.tileOffsets.length == 9 && m.bits == 64)
    val mn = Raster.readMeta(Raster.nodataFixturePath())
    assert(mn.nodata.contains(0.0))
    val masked = Raster.scanTiffDropNodata(spark, Raster.nodataFixturePath()).collect()
    val expectDropped = (for (x <- 0 until Raster.FixW; y <- 0 until Raster.FixH
      if Raster.fixtureValue(x, y) == 0.0) yield 1).size
    assert(masked.length == Raster.FixW * Raster.FixH - expectDropped)
    assert(expectDropped > 0, "fixture should contain nodata cells")
    assert(masked.forall(_.getDouble(2) != 0.0))
    // a file with no nodata tag refuses the masked scan
    val e = intercept[IllegalArgumentException](
      Raster.scanTiffDropNodata(spark, Raster.fixturePath()))
    assert(e.getMessage.contains("nodata"))
  }

  test("mosaic scan: shifted origins compose one lattice, one plan, type mismatch refused") {
    val p = Raster.fixturePath()
    val df = Raster.scanTiffMosaic(spark,
      Seq((p, 0, 0), (p, Raster.FixW, 0), (p, 0, Raster.FixH), (p, Raster.FixW, Raster.FixH)))
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 4 * Raster.FixW * Raster.FixH)
    // a point in each quadrant replays the wrapped formula
    for ((x, y) <- Seq((5, 7), (Raster.FixW + 5, 7), (5, Raster.FixH + 7),
        (Raster.FixW + 89, Raster.FixH + 69)))
      assert(got((x, y)) == Raster.fixtureValue(x % Raster.FixW, y % Raster.FixH), s"($x,$y)")
    // ONE scan: no per-file Union in the plan
    assert(!df.queryExecution.executedPlan.toString.contains("Union"),
      "mosaic planned as a union of per-file scans")
    // 36 tiles across the collection; the local manifest splits into at
    // most the session's leaf parallelism tasks
    // files disagreeing on sample type are refused
    val i32 = s"${java.nio.file.Files.createTempDirectory("graft_raster")}/i32.tif"
    Raster.writeTiffOpts(i32, 8, 8, 8, 8,
      Raster.WriteOpts(bits = 32, sampleFormat = 2))((x, y) => (x + y).toDouble)
    val e = intercept[IllegalArgumentException](
      Raster.scanTiffMosaic(spark, Seq((p, 0, 0), (i32, Raster.FixW, 0))))
    assert(e.getMessage.contains("sample type"))
  }

  test("focal mean is edge-aware: corner averages 4, edge 6, interior 9 neighbors") {
    val rows = q("raster_focal_mean").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    def exact(cx: Int, cy: Int): (Long, Double) = {
      val nb = for {
        dx <- -1 to 1; dy <- -1 to 1
        x = cx + dx; y = cy + dy
        if x >= 0 && x < Raster.FixW && y >= 0 && y < Raster.FixH
      } yield Raster.fixtureValue(x, y).toLong
      (nb.size.toLong, nb.sum.toDouble / nb.size)
    }
    assert(rows((0, 0))._1 == 4 && rows((0, 0)) == exact(0, 0))
    assert(rows((5, 0))._1 == 6 && rows((5, 0)) == exact(5, 0))
    assert(rows((5, 7))._1 == 9 && rows((5, 7)) == exact(5, 7))
    assert(rows((89, 69))._1 == 4 && rows((89, 69)) == exact(89, 69))
  }

  test("stats sidecar prunes tile files before any read; pruning is transparent") {
    val dir = Raster.gradTilesDir()
    val all = Raster.readStatsManifest(dir)
    assert(all.size == 6)
    // value >= 120: only files whose max (ox+29+oy+34) reaches 120
    val keep = all.filter(_.vmax >= 120)
    assert(keep.size == 3, s"expected 3 surviving tiles, got ${keep.map(_.path)}")
    // transparent: pruned scan == full mosaic scan + the same filter
    val pruned = Raster.scanTiffStatsPruned(spark, dir, 120.0)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val full = Raster.scanTiffMosaic(spark, all.map(t => (t.path, t.ox, t.oy)))
      .filter(org.apache.spark.sql.functions.col("value") >= 120.0)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(pruned == full && pruned.nonEmpty)
    // a predicate above every max prunes everything -> loud, not empty-silent
    val e = intercept[IllegalArgumentException](
      Raster.scanTiffStatsPruned(spark, dir, 1e9))
    assert(e.getMessage.contains("pruned"))
  }

  test("scale shape: a 1024-tile raster scans with one task per tile and exact sums") {
    // 1024x1024 px at 32x32 tiles -> 1024 tiles (the thousand-partition
    // shape a real COG hits); value = (x + 2y) mod 251 keeps sums exact
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val p = s"$tmp/big.tif"
    Raster.writeTiff(p, 1024, 1024, 32, 32)((x, y) => ((x + 2 * y) % 251).toDouble)
    val m = Raster.readMeta(p)
    assert(m.tileOffsets.length == 1024)
    val df = Raster.scanTiff(spark, p)
    val agg = df.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("value").cast("long"))).collect()(0)
    assert(agg.getLong(0) == 1024L * 1024L)
    // exact expected sum of (x + 2y) mod 251 over the lattice
    var expect = 0L
    var y = 0
    while (y < 1024) {
      var x = 0
      while (x < 1024) { expect += (x + 2 * y) % 251; x += 1 }
      y += 1
    }
    assert(agg.getLong(1) == expect, s"sum ${agg.getLong(1)} != $expect")
    // window pruning stays O(overlap), not O(all tiles)
    assert(Raster.windowRefs(m, p, 100, 131, 100, 131).size == 4)
    graft.core.Fs.rmTree(tmp)
  }

  test("mosaic scale shape: headers read ONCE per file, inside executor tasks (200 files)") {
    // the round-6 fix for the one structural scale-killer: a 100k-file
    // COG directory must not cost 2x100k serial driver GETs before the
    // first data task launches. 200 tiny files stand in for the shape;
    // the header-read LongAdders prove (a) exactly one read per file and
    // (b) every read ran inside a Spark task, not the driver loop.
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val n = 200
    val files = (0 until n).map { i =>
      val p = s"$tmp/m_$i.tif"
      Raster.writeTiff(p, 8, 8, 8, 8)((x, y) => ((x + y + i) % 97).toDouble)
      (p, (i % 20) * 8, (i / 20) * 8)
    }
    val before = (Raster.headerReads.sum, Raster.headerReadsInTask.sum)
    val cnt = Raster.scanTiffMosaic(spark, files).count()
    val dAll = Raster.headerReads.sum - before._1
    val dTask = Raster.headerReadsInTask.sum - before._2
    assert(cnt == n * 64L)
    assert(dAll == n, s"expected $n header reads (once per file), got $dAll")
    assert(dTask == n, s"expected all $n header reads in executor tasks, got $dTask")
    graft.core.Fs.rmTree(tmp)
  }

  test("multi-raster grid contract: misaligned lattices fail loudly at header time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val pa = s"$tmp/a.tif"; val pb = s"$tmp/b.tif"; val pc = s"$tmp/c.tif"
    Raster.writeTiff(pa, 20, 10, 16, 16)((x, y) => (x + y).toDouble)
    Raster.writeTiff(pb, 22, 10, 16, 16)((x, y) => (x + y).toDouble) // width differs
    val e = intercept[IllegalArgumentException](
      Raster.scanTiffEpochs(spark, Seq(pa, pb)))
    assert(e.getMessage.contains("misaligned"))
    // aligned epochs scan as one DataFrame, tagged by position
    Raster.writeTiff(pc, 20, 10, 16, 16)((x, y) => 1000.0 + x)
    val sums = Raster.scanTiffEpochs(spark, Seq(pa, pc))
      .groupBy("epoch").sum("value").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val s0 = (for (x <- 0 until 20; y <- 0 until 10) yield (x + y).toDouble).sum
    val s1 = (for (x <- 0 until 20; y <- 0 until 10) yield 1000.0 + x).sum
    assert(sums == Map(0 -> s0, 1 -> s1))
    graft.core.Fs.rmTree(tmp)
  }

  test("NaN nodata: tag parses case-insensitively and masks via isnan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val p = s"$tmp/nan.tif"
    Raster.writeTiffOpts(p, 10, 10, 16, 16, Raster.WriteOpts(nodata = Some(Double.NaN)))(
      (x, y) => if ((x + y) % 7 == 0) Double.NaN else (x + y).toDouble)
    assert(Raster.readMeta(p).nodata.exists(_.isNaN))
    // 14 cells have (x+y)%7 == 0 on the 10x10 grid -> 86 survive the mask
    assert(Raster.scanTiffDropNodata(spark, p).count() == 86L)
    graft.core.Fs.rmTree(tmp)
  }

  test("stats manifest: tile paths containing commas roundtrip exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_raster").toString
    val stats = Seq(
      Raster.TileStats(s"$tmp/a,b,c.tif", 3, 4, -1.5, 2.5),
      Raster.TileStats(s"$tmp/plain.tif", 0, 0, 0.0, 9.0))
    Raster.writeStatsManifest(tmp, stats)
    assert(Raster.readStatsManifest(tmp) == stats)
    graft.core.Fs.rmTree(tmp)
  }

  test("deflate codec: a stream decoding past the expected length fails loudly") {
    val data = Array.tabulate[Byte](100)(_.toByte)
    val comp = graft.zonal.TiffCodec.deflate(data)
    val e = intercept[IllegalArgumentException](graft.zonal.TiffCodec.inflate(comp, 60))
    assert(e.getMessage.contains("decodes past"))
    assert(graft.zonal.TiffCodec.inflate(comp, 100).toSeq == data.toSeq)
  }

  test("zonal_raster_world: geo tags roundtrip; non-integral transform fails loudly") {
    // writer → reader roundtrip of ModelPixelScale/ModelTiepoint (the
    // round-8 world-coordinate path hangs everything off these four)
    val p = Raster.worldFixturePath()
    val m = Raster.readMeta(p)
    assert(m.originX == Raster.WorldOX.toDouble && m.originY == Raster.WorldOY.toDouble
      && m.scaleX == Raster.WorldScale.toDouble && m.scaleY == Raster.WorldScale.toDouble)
    // pixel content unaffected by georeferencing
    val v = Raster.scanTiff(spark, p, m).where("cell_x = 3 AND cell_y = 5")
      .collect().head.getDouble(2)
    assert(v == Raster.fixtureValue(3, 5))
    // the rationally-generalized integral-coordinate discipline (r17):
    // a fractional-but-RATIONAL scale or origin now composes (scaled
    // BIGINT lattice) instead of refusing — but a truly irrational
    // transform must still fail AT PLAN BUILD, loudly, not silently
    // shift zones by a sub-pixel amount
    val zones = Raster.worldZones(spark, "/root/testdata/sf0.001")
    val cells = Raster.scanTiff(spark, p, m)
    assert(Raster.zonalWorld(cells, zones, m.copy(scaleX = 30.5))
      .collect().nonEmpty) // den = 2 lattice
    assert(Raster.zonalWorld(cells, zones, m.copy(originY = 4650000.25))
      .collect().nonEmpty) // den = 4 lattice
    val e1 = intercept[RuntimeException](
      Raster.zonalWorld(cells, zones, m.copy(scaleX = 30.0 * math.sqrt(2.0))))
    assert(e1.getMessage.contains("not rational-expressible"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      Raster.zonalWorld(cells, zones, m.copy(originY = 4650000.0 + math.Pi)))
    assert(e2.getMessage.contains("not rational-expressible"), e2.getMessage)
    // world zones that miss the raster contribute no rows; all stats
    // rows carry centers inside the raster's world envelope
    val rows = Raster.zonalWorld(cells, zones, m).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val wxMin = r.getDouble(r.fieldIndex("wcx_min"))
      val wyMax = r.getDouble(r.fieldIndex("wcy_max"))
      assert(wxMin >= Raster.WorldOX && wxMin <= Raster.WorldOX + 30.0 * Raster.FixW)
      assert(wyMax <= Raster.WorldOY && wyMax >= Raster.WorldOY - 30.0 * Raster.FixH)
    }
  }

  test("zonal_raster_degree: quarter-degree transform rationalizes to den=4; lattice stats match hand arithmetic") {
    val p = Raster.degreeFixturePath()
    val m = Raster.readMeta(p)
    // fractional geotransform round-trips through the TIFF tags exactly
    assert(m.originX == -30.0 && m.originY == 40.0
      && m.scaleX == 0.25 && m.scaleY == 0.25, m.toString)
    assert(Raster.rationalDen(m, "spec") == 4L)
    // hand zone: one pixel-interior envelope in eighths around pixel
    // (2, 3): pixel world x ∈ [-29.5, -29.25] = eighths [-236, -234],
    // center at -235 (odd). Envelope [-235, -233] (odd bounds, off
    // every pixel boundary) catches centers of pixels 2 and 3 in x.
    import spark.implicits._
    // y envelope [293, 295] in eighths: row centers sit at 320-(2y+1),
    // so rows 12 (295) and 13 (293) land inside, row 11 (297) outside
    val zone = Seq((0L, -235L, -233L, 293L, 295L))
      .toDF("zone_id", "wxmin", "wxmax", "wymin", "wymax")
    val cells = Raster.scanTiff(spark, p, m)
    val got = Raster.zonalWorldScaled(cells, zone, m, Raster.DegDen, "spec")
      .collect()
    assert(got.length == 1, got.mkString(","))
    val r = got.head
    // x centers at -235 (cell 2) and -233 (cell 3) are INSIDE [-235,-233];
    // y centers at 2·oy - 2·(2y+1) … envelope [293,295] catches odd
    // centers 293 (row 13) and 295 (row 12) → 2×2 = 4 cells
    assert(r.getLong(r.fieldIndex("n_cells")) == 4L, r.toString)
    val expSum = Seq((2, 12), (2, 13), (3, 12), (3, 13))
      .map { case (x, y) => Raster.fixtureValue(x, y).toLong }.sum
    assert(r.getLong(r.fieldIndex("sum_v")) == expSum, r.toString)
    // world centers are exact dyadic degrees: min center x = -30 + 2·2/8 + 0.125
    assert(r.getDouble(r.fieldIndex("wcx_min")) == -30.0 + 0.5 + 0.125)
    assert(r.getDouble(r.fieldIndex("wcx_max")) == -30.0 + 0.75 + 0.125)
    assert(r.getDouble(r.fieldIndex("wcy_max")) == 40.0 - 3.0 - 0.125)
    assert(r.getDouble(r.fieldIndex("wcy_min")) == 40.0 - 3.25 - 0.125)
  }

  test("auto-align: nearest and block-average agree with hand arithmetic; non-nesting pairs fail loudly") {
    import graft.zonal.Align
    val pa = Raster.worldFixturePath()
    val pb = Align.alnFixturePath()
    // A cell (1,1): world center (510045, 4649955); B index floor((45-10)/10,
    // (4649990-4649955)/10) = (3, 3) → vb = (13·3+29·3)%991 = 126,
    // va = (31+17)%997 = 48
    val near = Align.alignNearest(spark, pa, pb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(near.size == 2000, s"nearest coverage ${near.size}")
    assert(near((1, 1)) == (48.0, 126.0), s"hand cell: ${near((1, 1))}")
    // nearest drops A cells whose center leaves B's envelope: ax ≤ 49, ay ≤ 39
    assert(near.keys.forall { case (x, y) => x <= 49 && y <= 39 })
    // block average over A cell (1,1): B block bx,by ∈ {2,3,4}² sums to
    // 1134 → 126.0 exactly; all surviving blocks are FULL 3×3
    val avg = Align.alignAvg(spark, pa, pb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(avg.size == 1911, s"avg coverage ${avg.size}")
    assert(avg((1L, 1L)) == (9L, 126.0), s"hand block: ${avg((1L, 1L))}")
    // the reversed pair cannot nest (10 % 30 != 0) — loud, names the fix
    val e = intercept[IllegalArgumentException](Align.alignAvg(spark, pb, pa))
    assert(e.getMessage.contains("alignNearest"), e.getMessage)
    // nearest has no nesting demand: the reversed (upsampling) direction
    // runs, every fine cell sampling its covering coarse cell
    val up = Align.alignNearest(spark, pb, pa).collect()
    assert(up.length == Align.AlnW * Align.AlnH,
      s"upsample coverage ${up.length}: B sits wholly inside A")
  }

  test("general area-weighted align: 2x2-over-3x3 hand weights; degenerates to nested; fractional fails loudly") {
    import graft.zonal.Align
    // hand pair: A = 2x2 @ scale 6, B = 3x3 @ scale 4, same origin —
    // NON-nesting (6 % 4 != 0), identical 12x12 world extent. Every A
    // cell overlaps a 2x2 B block with x-weights (4,2) or (2,4), so the
    // exact area-weighted means are hand-computable over vb = bx + 3*by
    val tmp = System.getProperty("java.io.tmpdir")
    val pa = s"$tmp/graft_io/align_gen_hand_a.tif"
    Raster.writeTiffOpts(pa, 2, 2, 32, 32, Raster.WriteOpts(
      bits = 32, sampleFormat = 2,
      originX = 0.0, originY = 1000.0, scaleX = 6.0, scaleY = 6.0))(
      (x, y) => (1 + x + 10 * y).toDouble)
    val pb = s"$tmp/graft_io/align_gen_hand_b.tif"
    Raster.writeTiffOpts(pb, 3, 3, 32, 32, Raster.WriteOpts(
      bits = 32, sampleFormat = 2,
      originX = 0.0, originY = 1000.0, scaleX = 4.0, scaleY = 4.0))(
      (x, y) => (x + 3 * y).toDouble)
    val got = Align.alignAvgGeneral(spark, pa, pb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.size == 4, s"all four A cells fully covered: ${got.keySet}")
    // Σw·vb over each 2x2 B block (Σw = 36 everywhere)
    assert(got((0L, 0L)) == ((1.0, 36L, 48.0 / 36)), s"${got((0L, 0L))}")
    assert(got((1L, 0L)) == ((2.0, 36L, 96.0 / 36)), s"${got((1L, 0L))}")
    assert(got((0L, 1L)) == ((11.0, 36L, 192.0 / 36)), s"${got((0L, 1L))}")
    assert(got((1L, 1L)) == ((12.0, 36L, 240.0 / 36)), s"${got((1L, 1L))}")
    // on a NESTING pair the general kernel must equal the nested block
    // mean exactly (weights all k² equal): same cells, same averages
    val wa = Raster.worldFixturePath()
    val nb = Align.alnFixturePath()
    val gen = Align.alignAvgGeneral(spark, wa, nb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getDouble(4))).toMap
    val nested = Align.alignAvg(spark, wa, nb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(gen.keySet == nested.keySet,
      s"coverage differs: ${gen.size} vs ${nested.size}")
    nested.foreach { case (k, (n, avg)) =>
      assert(gen(k) == ((900L, avg)), s"cell $k: gen ${gen(k)} vs nested ($n, $avg)")
    }
    // fractional geotransform: loud at header time (integral discipline)
    val pf = s"$tmp/graft_io/align_gen_frac.tif"
    Raster.writeTiffOpts(pf, 2, 2, 32, 32, Raster.WriteOpts(
      bits = 32, sampleFormat = 2,
      originX = 0.0, originY = 1000.0, scaleX = 2.5, scaleY = 2.5))(
      (x, y) => (x + y).toDouble)
    val e = intercept[IllegalArgumentException](Align.alignAvgGeneral(spark, pa, pf))
    assert(e.getMessage.contains("not integer-expressible"), e.getMessage)
  }

  test("web mercator reprojection: forward inverts inverse to sub-mm; cells land in the fixture window") {
    import graft.zonal.Reproject
    // closed-form round trip: meters -> degrees -> meters, everywhere on
    // the fixture's extent, to well under a millimeter
    for (x <- Seq(510000.0, 510015.0, 512685.0); y <- Seq(4647915.0, 4649000.0, 4649985.0)) {
      val (lon, lat) = Reproject.inverse(x, y)
      val (x2, y2) = Reproject.forward(lon, lat)
      assert(math.abs(x2 - x) < 1e-4 && math.abs(y2 - y) < 1e-4,
        s"round trip drifted: ($x,$y) -> ($lon,$lat) -> ($x2,$y2)")
    }
    // every projected cell falls inside the analytically known window
    val rows = q("raster_reproject_wgs84").collect()
    assert(rows.length == Raster.FixW * Raster.FixH)
    rows.foreach { r =>
      val lon = r.getDouble(r.fieldIndex("lon"))
      val lat = r.getDouble(r.fieldIndex("lat"))
      assert(lon >= 4.5815 && lon <= 4.6056, s"lon $lon outside window")
      assert(lat >= 38.4832 && lat <= 38.4978, s"lat $lat outside window")
    }
    // monotonicity: lon strictly increases with cell_x, lat strictly
    // decreases with cell_y (a sign/axis mixup would break one)
    val byX = rows.filter(_.getInt(1) == 0).sortBy(_.getInt(0)).map(_.getDouble(2))
    assert(byX.zip(byX.tail).forall { case (a, b) => a < b }, "lon not increasing in x")
    val byY = rows.filter(_.getInt(0) == 0).sortBy(_.getInt(1)).map(_.getDouble(3))
    assert(byY.zip(byY.tail).forall { case (a, b) => a > b }, "lat not decreasing in y")
  }

  test("GeoKey directory: declared CRS surfaces, contradictions refuse, auto op dispatches (r18)") {
    val dir = java.nio.file.Files.createTempDirectory("geokey").toString
    def write(p: String, epsg: Option[Int]): String = {
      Raster.writeTiffOpts(p, 8, 8, 8, 8,
        Raster.WriteOpts(epsg = epsg))((x, y) => (x + y).toDouble)
      p
    }
    // roundtrip: projected key (3072) and geographic key (2048)
    assert(Raster.readMeta(write(s"$dir/a.tif", Some(3857))).crsEpsg.contains(3857))
    assert(Raster.readMeta(write(s"$dir/b.tif", Some(4269))).crsEpsg.contains(4269))
    // user-defined code (32767) carries no checkable declaration
    assert(Raster.readMeta(write(s"$dir/c.tif", Some(32767))).crsEpsg.isEmpty)
    // absent directory: unchanged legacy behavior
    assert(Raster.readMeta(write(s"$dir/d.tif", None)).crsEpsg.isEmpty)
    // malformed directory version refuses loudly: patch the header
    // short of the written key directory (pattern 1,1,0,3 LE)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/a.tif"))
    val pat = Array[Byte](1, 0, 1, 0, 0, 0, 3, 0)
    val at = raw.indices.indexWhere(i => i + 8 <= raw.length &&
      (0 until 8).forall(k => raw(i + k) == pat(k)))
    assert(at > 0, "GeoKey header pattern must exist in the fixture")
    raw(at) = 2
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.tif"), raw)
    val eBad = intercept[IllegalArgumentException](Raster.readMeta(s"$dir/bad.tif"))
    assert(eBad.getMessage.contains("GeoKey"), eBad.getMessage)
    // contradiction refusals: each CRS-assuming op refuses a file
    // declaring a DIFFERENT model space, naming both sides
    val p3857 = Raster.crs3857FixturePath()
    val eUtm = intercept[IllegalArgumentException](
      graft.zonal.Utm.cellsLonLat(spark, p3857, 3))
    assert(eUtm.getMessage.contains("declares EPSG:3857")
      && eUtm.getMessage.contains("32631"), eUtm.getMessage)
    val eHel = intercept[IllegalArgumentException](
      graft.zonal.Helmert.cellsLonLat(spark, p3857))
    assert(eHel.getMessage.contains("declares EPSG:3857")
      && eHel.getMessage.contains("4269"), eHel.getMessage)
    val eMerc = intercept[IllegalArgumentException](
      graft.zonal.Reproject.cellsLonLat(spark, write(s"$dir/e.tif", Some(4269))))
    assert(eMerc.getMessage.contains("declares EPSG:4269"), eMerc.getMessage)
    // matching declaration passes and equals the undeclared twin
    val auto = graft.zonal.Reproject.cellsLonLatAuto(spark, p3857)
      .select("cell_x", "cell_y", "lon", "lat").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSet
    val explicit = graft.zonal.Reproject.cellsLonLat(spark, Raster.worldFixturePath())
      .select("cell_x", "cell_y", "lon", "lat").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(auto == explicit,
      "auto dispatch on the declared 3857 must equal the explicit Mercator path")
    // the auto op refuses undeclared files and unsupported declarations
    val eNone = intercept[RuntimeException](
      graft.zonal.Reproject.cellsLonLatAuto(spark, Raster.worldFixturePath()))
    assert(eNone.getMessage.contains("no GeoKey"), eNone.getMessage)
    val eUnsup = intercept[RuntimeException](
      graft.zonal.Reproject.cellsLonLatAuto(spark, write(s"$dir/f.tif", Some(2154))))
    assert(eUnsup.getMessage.contains("2154"), eUnsup.getMessage)
  }

  test("ModelTransformation georeference: north-up derives (origin, scale); rotation fails loudly") {
    // GeoTIFF's other georeference spelling (4×4 row-major affine).
    // Previously the tag was ignored entirely — a rotated file read
    // with an identity georeference, silently misplacing every cell in
    // world space (r10). North-up member of the family:
    //   x = 30·col + 510000, y = −30·row + 4650000
    val t = Array.fill(16)(0.0)
    t(0) = 30.0; t(3) = 510000.0; t(5) = -30.0; t(7) = 4650000.0; t(15) = 1.0
    assert(Raster.geoFromTransformation("p", t) == ((510000.0, 4650000.0, 30.0, 30.0)))
    // a rotation term makes the transform unrepresentable in the
    // (origin, scale) model — must raise, never default
    val rot = t.clone(); rot(1) = 5.0
    val e = intercept[IllegalArgumentException](Raster.geoFromTransformation("p", rot))
    assert(e.getMessage.contains("rotated"), e.getMessage)
    // wrong orientation (y increasing down in world space) also raises
    val flip = t.clone(); flip(5) = 30.0
    val e2 = intercept[IllegalArgumentException](Raster.geoFromTransformation("p", flip))
    assert(e2.getMessage.contains("north-up"), e2.getMessage)
    // truncated tag payload raises rather than indexing garbage
    val e3 = intercept[IllegalArgumentException](
      Raster.geoFromTransformation("p", Array(30.0, 0.0, 0.0, 510000.0)))
    assert(e3.getMessage.contains("16"), e3.getMessage)
  }

  test("multi-band deflate writer roundtrips through the band scanner") {
    val p = Raster.mbDeflateFixturePath()
    val m = Raster.readMeta(p)
    assert(m.bands == 2 && m.compression == 8)
    val got = Raster.scanTiffBands(spark, p).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == Raster.MbW * Raster.MbH * Raster.MbBands)
    for (x <- 0 until Raster.MbW; y <- 0 until Raster.MbH; b <- 0 until Raster.MbBands)
      assert(got((x, y, b)) == Raster.mbValue(x, y, b), s"pixel ($x,$y,$b)")
  }
}
