package graft

import org.apache.spark.sql.functions.col

import graft.zonal.Hdf5

/** netCDF-4/HDF5 reader gates: dtype × layout × filter roundtrips,
  * fill semantics for absent chunks, edge-pad clipping, named loud
  * refusals via deterministic byte surgery on writer output (the
  * writer's layout arithmetic is fixed, so structure offsets are
  * computable), and a hand-grafted two-level chunk B-tree proving the
  * recursive walk. The shared formula oracle gates the writer+reader
  * pair; these gate the reader's corners.
  */
class Hdf5Spec extends SparkSuite {

  private def tmp(name: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_io/h5spec_$name.nc"
    new java.io.File(p).delete()
    p
  }

  private def msgs(t: Throwable): String =
    if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)

  private def patch(path: String, off: Int, bytes: Array[Byte]): Unit = {
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    System.arraycopy(bytes, 0, b, off, bytes.length)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), b)
  }

  private def f(x: Int, y: Int): Double = ((5 * x + 11 * y) % 97).toDouble

  /** One variable through the netCDF-4/HDF5 DSv2 face. */
  private def h5(p: String, v: String) =
    spark.read.format("graft.zonal.Hdf5Source").option("var", v).load(p)

  /** Variable `v` with CF time labels from dataset `t`. */
  private def h5t(p: String, t: String) =
    spark.read.format("graft.zonal.Hdf5Source").option("var", "v").option("time", t).load(p)

  /** Variable `v` with axis labels from datasets `x` and `y`. */
  private def h5c(p: String) =
    spark.read.format("graft.zonal.Hdf5Source").option("var", "v").option("coords", "x,y").load(p)

  test("dtype × layout × filter roundtrips equal the formula") {
    val cases = Seq(
      ("<f8", true, true, false), ("<f4", true, false, false),
      (">i4", false, false, false), ("<i2", true, true, false),
      ("<u1", false, false, false), (">f8", false, false, true),
      ("<i4", false, false, true))
    for (((dt, defl, shuf, contig), k) <- cases.zipWithIndex) {
      val p = tmp(s"rt$k")
      Hdf5.writeHdf5(p, "data", 10, 13, 4, 5, dtype = dt,
        deflate = defl, shuffle = shuf, contiguous = contig)(f)
      val got = h5(p, "data").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 130, s"$dt defl=$defl shuf=$shuf contig=$contig: ${got.size}")
      for (y <- 0 until 10; x <- 0 until 13)
        assert(got((x, y)) == f(x, y), s"$dt defl=$defl shuf=$shuf contig=$contig ($x,$y)")
    }
  }

  test("edge-pad cells are clipped, never emitted") {
    // pad value 999 never appears in the formula range [0, 97)
    val p = tmp("pad")
    Hdf5.writeHdf5(p, "v", 10, 13, 4, 5, dtype = "<f8",
      deflate = true, fill = Some(999.0))(f)
    val vals = h5(p, "v").collect().map(_.getDouble(2))
    assert(vals.length == 130 && !vals.contains(999.0))
  }

  test("absent chunk = fill value; absent chunk without fill is loud") {
    val p = tmp("hole")
    Hdf5.writeHdf5(p, "v", 10, 13, 4, 5, dtype = "<f4",
      fill = Some(7.5), omit = Set((1, 1)))(f)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 130)
    // chunk (1,1) covers y 4-7, x 5-9 → fill; everything else formula
    for (y <- 0 until 10; x <- 0 until 13) {
      val want = if (y >= 4 && y < 8 && x >= 5 && x < 10) 7.5 else f(x, y)
      assert(got((x, y)) == want, s"($x,$y)")
    }
    val p2 = tmp("holenofill")
    Hdf5.writeHdf5(p2, "v", 10, 13, 4, 5, dtype = "<f4",
      fill = None, omit = Set((0, 0)))(f)
    assert(msgs(intercept[Throwable](
      h5(p2, "v").collect())).contains("no fill value"))
  }

  test("named loud refusals: magic, superblock version, OHDR, filter, variable") {
    val p = tmp("refuse")
    Hdf5.writeHdf5(p, "v", 8, 8, 4, 4, dtype = "<f4")(f)
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p, "nope"))).contains("not in file"))
    // superblock version byte lives at offset 8
    val pv = tmp("sbver")
    Hdf5.writeHdf5(pv, "v", 8, 8, 4, 4, dtype = "<f4")(f)
    patch(pv, 8, Array[Byte](1))
    assert(msgs(intercept[Throwable](Hdf5.readMeta(pv, "v"))).contains("superblock version 1"))
    // root object header sits at offset 96 in this writer's layout
    val po = tmp("ohdr")
    Hdf5.writeHdf5(po, "v", 8, 8, 4, 4, dtype = "<f4")(f)
    patch(po, 96, "OHDR".getBytes)
    assert(msgs(intercept[Throwable](Hdf5.readMeta(po, "v"))).contains("OHDR"))
    // a non-HDF5 file refuses on the signature
    val pm = tmp("magic")
    java.nio.file.Files.write(java.nio.file.Paths.get(pm), new Array[Byte](128))
    assert(msgs(intercept[Throwable](Hdf5.readMeta(pm, "v"))).contains("signature"))
    // filter id surgery: deflate-only f4 "v" → dataset header at 280
    // (96 sb + 40 root + 32 heap hdr + 16 heap data + 48 btree +
    // 48 snod), messages dataspace 32 + datatype 32 + fill 24 +
    // layout 32, pipeline message header at 416, filter id at 424+8
    val pf = tmp("filter")
    Hdf5.writeHdf5(pf, "v", 8, 8, 4, 4, dtype = "<f4", deflate = true)(f)
    patch(pf, 432, Array[Byte](4, 0)) // szip
    assert(msgs(intercept[Throwable](Hdf5.readMeta(pf, "v"))).contains("filter id 4"))
  }

  test("truncated file fails loudly at the range read") {
    val p = tmp("trunc")
    Hdf5.writeHdf5(p, "v", 8, 8, 4, 4, dtype = "<f4", deflate = true)(f)
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // cut inside the dataset object header so the metadata walk itself
    // over-reads (executor-side chunk reads fail via Hadoop's own EOF)
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      java.util.Arrays.copyOfRange(b, 0, 300))
    assert(msgs(intercept[Throwable](
      h5(p, "v").collect())).contains("past EOF"))
  }

  test("chunk B-tree walk recurses through internal nodes") {
    // raw (uncompressed) chunked file → deterministic chunk sizes and
    // addresses; graft a level-1 node splitting the original leaf in
    // two, then point the layout message at it.
    val p = tmp("btree2")
    Hdf5.writeHdf5(p, "v", 8, 8, 4, 4, dtype = "<f4",
      deflate = false, shuffle = false)(f)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // layout arithmetic (see refusals test): dataset header at 280,
    // messages 32+32+24+32 (no pipeline) → chunk btree at 280+16+120 = 416
    val aCbt = 416
    assert(new String(bytes, aCbt, 4) == "TREE")
    val keySize = 32
    def le64(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    // original leaf: 4 entries at aCbt+24, each key(32)+child(8)
    val entries = java.util.Arrays.copyOfRange(bytes, aCbt + 24,
      aCbt + 24 + 4 * (keySize + 8) + keySize)
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes)
    // leaf A: entries 0-1 (+ key2 as its final key)
    val aLeafA = out.size
    out.write("TREE".getBytes); out.write(Array[Byte](1, 0, 2, 0))
    out.write(le64(-1L)); out.write(le64(-1L))
    out.write(entries, 0, 2 * (keySize + 8) + keySize)
    // leaf B: entries 2-3 (+ the original final key)
    val aLeafB = out.size
    out.write("TREE".getBytes); out.write(Array[Byte](1, 0, 2, 0))
    out.write(le64(-1L)); out.write(le64(-1L))
    out.write(entries, 2 * (keySize + 8), 2 * (keySize + 8) + keySize)
    // internal node: two children keyed by their first chunk offsets
    val aRoot = out.size
    out.write("TREE".getBytes); out.write(Array[Byte](1, 1, 2, 0))
    out.write(le64(-1L)); out.write(le64(-1L))
    out.write(entries, 0, keySize); out.write(le64(aLeafA))
    out.write(entries, 2 * (keySize + 8), keySize); out.write(le64(aLeafB))
    out.write(entries, 4 * (keySize + 8), keySize)
    java.nio.file.Files.write(java.nio.file.Paths.get(p), out.toByteArray)
    // patch the layout message's btree address (dataset header 280 +
    // prefix 16 + dataspace 32 + datatype 32 + fill 24 + layout msg
    // header 8 + ver/class/dim 3 = 395)
    patch(p, 395, le64(aRoot))
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 64)
    for (y <- 0 until 8; x <- 0 until 8) assert(got((x, y)) == f(x, y), s"($x,$y)")
  }

  test("rank-3 cube: chunked + contiguous roundtrips, absent-chunk fill, t-pad clip") {
    def f3(x: Int, y: Int, t: Int): Double = ((3 * x + 7 * y + 11 * t) % 83).toDouble
    // chunked with an edge t-chunk (3 % 2 = 1) and one omitted chunk
    val p = tmp("cube")
    Hdf5.writeHdf5Cube(p, "v", 3, 6, 8, 2, 4, 5, dtype = "<f8",
      deflate = true, fill = Some(9.5), omit = Set((0, 1, 1)))(f3)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 3 * 6 * 8)
    for (t <- 0 until 3; y <- 0 until 6; x <- 0 until 8) {
      // omitted chunk (0,1,1) covers t 0-1, y 4-5, x 5-7
      val want = if (t < 2 && y >= 4 && x >= 5) 9.5 else f3(x, y, t)
      assert(got((x, y, t)) == want, s"($x,$y,$t)")
    }
    // contiguous rank-3 stripes
    val pc = tmp("cubec")
    Hdf5.writeHdf5Cube(pc, "v", 3, 6, 8, 1, 0, 0, dtype = ">i2",
      deflate = false, contiguous = true)(f3)
    val gc = h5(pc, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(gc.size == 3 * 6 * 8)
    for (t <- 0 until 3; y <- 0 until 6; x <- 0 until 8)
      assert(gc((x, y, t)) == f3(x, y, t), s"contig ($x,$y,$t)")
    // the face reads the rank from the variable: rank 3 adds `epoch`
    assert(h5(p, "v").columns.toSeq == Seq("cell_x", "cell_y", "epoch", "value"))
  }

  test("rank-4 cube: roundtrip, omitted-chunk fill, pad clip in all four axes") {
    def f4(x: Int, y: Int, l: Int, t: Int): Double =
      ((3 * x + 7 * y + 5 * l + 11 * t) % 83).toDouble
    // edge chunks in BOTH leading axes (3 % 2 along t, 4 % 3 along
    // level) + one omitted chunk
    val p = tmp("cube4")
    Hdf5.writeHdf5Cube4d(p, "v", 3, 4, 6, 8, 2, 3, 4, 5, dtype = "<f8",
      deflate = true, fill = Some(9.5), omit = Set((0, 1, 1, 1)))(f4)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4))
      .toMap
    assert(got.size == 3 * 4 * 6 * 8)
    for (t <- 0 until 3; l <- 0 until 4; y <- 0 until 6; x <- 0 until 8) {
      // omitted chunk (0,1,1,1) covers t 0-1, level 3, y 4-5, x 5-7
      val want = if (t < 2 && l >= 3 && y >= 4 && x >= 5) 9.5 else f4(x, y, l, t)
      assert(got((x, y, l, t)) == want, s"($x,$y,$l,$t)")
    }
    // the face reads the rank from the variable in both directions
    assert(h5(p, "v").columns.toSeq ==
      Seq("cell_x", "cell_y", "level", "epoch", "value"))
    assert(h5(Hdf5.fixturePath(), "v").columns.toSeq == Seq("cell_x", "cell_y", "value"))
    // contiguous rank-4 stripes (r14 — gates the reader's per-(t,
    // level, stripe) contiguous manifest)
    val pc = tmp("cube4c")
    Hdf5.writeHdf5Cube4d(pc, "v", 3, 4, 6, 8, 1, 1, 0, 0, dtype = ">i2",
      deflate = false, contiguous = true)(f4)
    val gc = h5(pc, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4))
      .toMap
    assert(gc.size == 3 * 4 * 6 * 8)
    for (t <- 0 until 3; l <- 0 until 4; y <- 0 until 6; x <- 0 until 8)
      assert(gc((x, y, l, t)) == f4(x, y, l, t), s"contig ($x,$y,$l,$t)")
  }

  test("extensible-array index: inline/full-block/partial-block elements, fill, refusals") {
    // 10x8 at 2x4 chunks -> 5x2 grid = 10 chunks with idxElems=4,
    // minElems=4: 4 inline + dblk0 (rel 0-3) + dblk1 (rel 4-5 of 8);
    // omit one inline chunk AND one data-block chunk -> fill
    def fe(x: Int, y: Int): Double = ((7 * x + 3 * y) % 53).toDouble
    val p = tmp("ea")
    Hdf5.writeHdf5V2Ea(p, "v", 10, 8, 2, 4, dtype = "<f8", deflate = true,
      fill = 7.5, omit = Set((1, 0), (4, 1)))(fe)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 80)
    for (y <- 0 until 10; x <- 0 until 8) {
      // chunk (ci, cj) = (y/2, x/4); omitted (1,0) and (4,1)
      val omitted = (y / 2 == 1 && x / 4 == 0) || (y / 2 == 4 && x / 4 == 1)
      assert(got((x, y)) == (if (omitted) 7.5 else fe(x, y)), s"($x,$y)")
    }
    // an ENTIRELY-omitted data block leaves an Undef block address
    val p2 = tmp("ea2")
    Hdf5.writeHdf5V2Ea(p2, "v", 10, 8, 2, 4, dtype = "<f8", deflate = true,
      fill = 7.5, omit = Set((2, 0), (2, 1), (3, 0), (3, 1)))(fe)
    val g2 = h5(p2, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until 10; x <- 0 until 8) {
      val omitted = y / 2 == 2 || y / 2 == 3
      assert(g2((x, y)) == (if (omitted) 7.5 else fe(x, y)), s"p2 ($x,$y)")
    }
    // surgery: EAIB that does not point back at its EAHD is loud
    val aDs = 48 + 7 + (4 + 3 + 1 + 8) + 4
    val dsSize = 7 + ((4 + 20) + (4 + 20) + (4 + 14) + (4 + 12) + (4 + 43)) + 4
    val aEahd = aDs + dsSize
    val aEaib = aEahd + 72
    patch(p2, aEaib + 6, Array.fill[Byte](8)(0x22))
    assert(msgs(intercept[Throwable](
      h5(p2, "v").collect())).contains("EAIB"))
  }

  test("extensible-array SUPER blocks: unpaged + paged data blocks, uninit pages, absences") {
    // 1x1-cell chunks on a 16x9 grid = 144 chunks with idxElems=4,
    // minPtrs=4, minElems=4, pageBits=4 (16-element pages):
    //   direct region = 4 inline + sblks 0-3 (4+8+16+32 = 60) = 64
    //   sblk4 = 4 dblks x 16 (chunks 64..127, UNPAGED: 16 <= page)
    //   sblk5 = 4 dblks x 32 (chunks 128..255, PAGED: 2 pages each)
    // chunk k sits at cell (x, y) = (k % 9, k / 9)
    def fe(x: Int, y: Int): Double = ((7 * x + 3 * y) % 53).toDouble
    val omitK = Set(1, 10) ++ (80 to 95).toSet + 130
    def omitCell(k: Int) = (k / 9, k % 9)
    val p = tmp("easb")
    Hdf5.writeHdf5V2Ea(p, "v", 16, 9, 1, 1, dtype = "<f8", deflate = true,
      fill = 9.25, omit = omitK.map(omitCell),
      pageBits = 4)(fe)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 144)
    for (k <- 0 until 144) {
      val (x, y) = (k % 9, k / 9)
      val want = if (omitK.contains(k)) 9.25 else fe(x, y)
      assert(got((x, y)) == want, s"chunk $k cell ($x,$y)")
    }
    // the paged region really engaged: chunks 128..143 are page 0 of
    // sblk5 dblk0 (with 130 absent INSIDE an initialized page) and the
    // never-written page 1 (144..159 beyond the grid) stayed uninit
    // while the whole sblk4 dblk1 (80..95) is an Undef block address
    // — all covered by the value sweep above. Corrupt EASB magic: loud
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val sbAt = (0 until b.length - 4).indexWhere(i =>
      b(i) == 'E' && b(i + 1) == 'A' && b(i + 2) == 'S' && b(i + 3) == 'B')
    assert(sbAt > 0, "fixture contains an EASB super block")
    // r16 (ADVICE r15): pin the REAL paged layout at hand-derived
    // offsets so a shared writer+reader slip can't hide in roundtrips:
    // (a) the EASB carries ONE byte-aligned ceil(npages/8)-byte
    //     page-init mask PER data block (H5EA dblk_page_init_size ×
    //     ndblks — 4 bytes here for sblk5: 4 dblks × 2 pages), and
    // (b) a paged EADB's prefix ends with its OWN lookup3 checksum
    //     (H5EA_DBLOCK_PREFIX_SIZE includes it) BEFORE the pages.
    val arrOff = 4 // (maxBits=32+7)/8
    val easbs = (0 until b.length - 4).filter(i =>
      b(i) == 'E' && b(i + 1) == 'A' && b(i + 2) == 'S' && b(i + 3) == 'B')
    assert(easbs.size == 2, s"sblk4 + sblk5 EASBs, got ${easbs.size}")
    val s5 = easbs(1) // sblk5: 4 dblks × 32 elems = 2 pages of 16 each
    val m0 = s5 + 14 + arrOff // dblk0's 1-byte mask
    assert((b(m0) & 0x80) != 0, "dblk0 page0 bit set (chunk 128 present), MSB-first")
    assert((b(m0) & 0x40) == 0, "dblk0 page1 uninit (beyond the 144-chunk grid)")
    assert(b(m0 + 1) == 0 && b(m0 + 2) == 0 && b(m0 + 3) == 0,
      "dblk1-3 masks are their OWN bytes and stay clear")
    def leLong(at: Int): Long = java.nio.ByteBuffer.wrap(b, at, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    val d0 = leLong(m0 + 4) // address array starts after ndblks masks
    assert(d0 > 0 && d0 < b.length, s"sblk5 dblk0 address $d0")
    assert(new String(b, d0.toInt, 4, "ASCII") == "EADB",
      "per-block masks precede the data-block address array")
    val pre = 14 + arrOff
    val ck = java.nio.ByteBuffer.wrap(b, d0.toInt + pre, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(ck == graft.zonal.Lookup3.hash(b, d0.toInt, pre),
      "paged EADB prefix checksum sits after the block offset, before page 0")
    val pc = tmp("easbbad")
    b(sbAt) = 'X'
    java.nio.file.Files.write(java.nio.file.Paths.get(pc), b)
    assert(msgs(intercept[Throwable](
      h5(pc, "v").collect())).contains("EASB"))
  }

  test("v2 B-tree chunk index: roundtrips, recordless-chunk fill, depth refusal") {
    def fb(x: Int, y: Int): Double = ((13 * x + 9 * y) % 71).toDouble
    // filtered records with an omitted (recordless) chunk -> fill
    val p = tmp("bt2")
    Hdf5.writeHdf5V2Bt2(p, "v", 10, 8, 4, 4, dtype = "<f8", deflate = true,
      fill = 6.5, omit = Set((1, 1)))(fb)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 80)
    for (y <- 0 until 10; x <- 0 until 8) {
      val omitted = y / 4 == 1 && x / 4 == 1
      assert(got((x, y)) == (if (omitted) 6.5 else fb(x, y)), s"($x,$y)")
    }
    // non-filtered type-10 records
    val p2 = tmp("bt2raw")
    Hdf5.writeHdf5V2Bt2(p2, "v", 6, 6, 3, 3, dtype = "<f8", deflate = false)(fb)
    val g2 = h5(p2, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until 6; x <- 0 until 6) assert(g2((x, y)) == fb(x, y), s"raw ($x,$y)")
    // surgery: a lying depth field is loud (the claimed BTIN at the
    // root-leaf address fails the signature check, never wrong cells)
    val aDs = 48 + 7 + (4 + 3 + 1 + 8) + 4
    val dsSize = 7 + ((4 + 20) + (4 + 20) + (4 + 14) + (4 + 12) + (4 + 44)) + 4
    val aBthd = aDs + dsSize
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(new String(b, aBthd, 4) == "BTHD", "layout arithmetic drifted")
    patch(p, aBthd + 12, Array[Byte](1, 0))
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p, "v"))).contains("BTIN"))
  }

  test("v2 B-tree INTERNAL nodes: depth 1 and 2 walk, separators included, fill") {
    // r15 — the two-unlimited-dimension shape past one leaf's capacity:
    // records split across leaves, separator records pulled up into
    // BTIN internal nodes (which the walk must ALSO emit), child
    // pointers carrying (addr, nrec[, subtree total]) per H5B2 widths
    def fb(x: Int, y: Int): Double = ((13 * x + 9 * y) % 71).toDouble
    for (depth <- 1 to 2) {
      // 1x1-cell chunks on a 9x8 grid = 72 records; leaves of 4
      val p = tmp(s"btin$depth")
      Hdf5.writeHdf5V2Bt2(p, "v", 9, 8, 1, 1, dtype = "<f8", deflate = true,
        fill = 3.25, omit = Set((2, 3), (7, 1)), btDepth = depth)(fb)
      val got = h5(p, "v").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 72, s"depth $depth")
      for (y <- 0 until 9; x <- 0 until 8) {
        val omitted = (y == 2 && x == 3) || (y == 7 && x == 1)
        assert(got((x, y)) == (if (omitted) 3.25 else fb(x, y)),
          s"depth $depth ($x,$y)")
      }
      // the tree really has internal nodes
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      val hasBtin = (0 until b.length - 4).exists(i =>
        b(i) == 'B' && b(i + 1) == 'T' && b(i + 2) == 'I' && b(i + 3) == 'N')
      assert(hasBtin, s"depth $depth fixture contains a BTIN node")
    }
    // non-filtered type-10 records through the same deep walk
    val p2 = tmp("btinraw")
    Hdf5.writeHdf5V2Bt2(p2, "v", 9, 8, 1, 1, dtype = "<f8", deflate = false,
      btDepth = 1)(fb)
    val g2 = h5(p2, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until 9; x <- 0 until 8) assert(g2((x, y)) == fb(x, y), s"raw ($x,$y)")
  }

  test("fletcher32: checksummed pipeline roundtrips; corruption is loud") {
    def ff(x: Int, y: Int): Double = ((17 * x + 23 * y) % 97).toDouble
    val p = tmp("fl")
    Hdf5.writeHdf5(p, "v", 10, 8, 4, 4, dtype = "<f8",
      deflate = false, shuffle = false, fletcher = true)(ff)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 80)
    for (y <- 0 until 10; x <- 0 until 8) assert(got((x, y)) == ff(x, y), s"($x,$y)")
    // with the full [fletcher32, shuffle, deflate] pipeline too
    val p2 = tmp("fl2")
    Hdf5.writeHdf5(p2, "v", 10, 8, 4, 4, dtype = "<f4",
      deflate = true, shuffle = true, fletcher = true)(ff)
    val g2 = h5(p2, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until 10; x <- 0 until 8) assert(g2((x, y)) == ff(x, y), s"p2 ($x,$y)")
    // flip ONE raw data byte (no compression → data sits at the file
    // tail) → the checksum catches it loudly, never wrong cells
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    b(b.length - 40) = (b(b.length - 40) ^ 0x01).toByte
    val pc = tmp("flbad")
    java.nio.file.Files.write(java.nio.file.Paths.get(pc), b)
    assert(msgs(intercept[Throwable](
      h5(pc, "v").collect())).contains("fletcher32"))
    // the published algorithm's structure: known tiny vectors — a
    // one-word buffer checks sum1 = the BE word, sum2 = sum1
    val one = Array[Byte](0x12, 0x34)
    assert(Hdf5.fletcher32(one, 0, 2) == ((0x1234 << 16) | 0x1234))
    // odd trailing byte is high-padded
    val odd = Array[Byte](0x12, 0x34, 0x56)
    val s1 = 0x1234 + 0x5600
    assert(Hdf5.fletcher32(odd, 0, 3) == ((s1 + 0x1234) << 16 | s1))
  }

  test("libver-latest fletcher32-ONLY pipeline: filtered fixed-array entries read") {
    // HDF5 treats a fletcher-only pipeline as FILTERED (16-byte index
    // entries, client id 1) — the r14 advice trap was requiring
    // deflate/shuffle for filtered-ness and rejecting these files
    def ff(x: Int, y: Int): Double = ((17 * x + 23 * y) % 97).toDouble
    val p = tmp("flv2")
    Hdf5.writeHdf5V2(p, "v", 10, 8, 4, 4, dtype = "<f4",
      deflate = false, fletcher = true)(ff)
    val got = h5(p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 80)
    for (y <- 0 until 10; x <- 0 until 8) assert(got((x, y)) == ff(x, y), s"($x,$y)")
    // corruption in a raw chunk byte is loud, never wrong cells
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    b(b.length - 40) = (b(b.length - 40) ^ 0x01).toByte
    val pc = tmp("flv2bad")
    java.nio.file.Files.write(java.nio.file.Paths.get(pc), b)
    assert(msgs(intercept[Throwable](
      h5(pc, "v").collect())).contains("fletcher32"))
    // fletcher + deflate through the same v2 pipeline message
    val p2 = tmp("flv2both")
    Hdf5.writeHdf5V2(p2, "v", 10, 8, 4, 4, dtype = "<f4",
      deflate = true, fletcher = true)(ff)
    val g2 = h5(p2, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (y <- 0 until 10; x <- 0 until 8) assert(g2((x, y)) == ff(x, y), s"p2 ($x,$y)")
  }

  test("CF packed + fill on netCDF-4: raw fill cells drop BEFORE the unpack") {
    val fillRaw = -999.0
    def raw(x: Int, y: Int): Double =
      if ((x + y) % 5 == 0) fillRaw else ((3 * x + 5 * y) % 60).toDouble
    val p = tmp("pkfill")
    Hdf5.writeHdf5Cube(p, "v", 0, 6, 8, 1, 4, 4, dtype = "<i2",
      deflate = true, fill = Some(fillRaw),
      attrs = Seq(("scale_factor", 0.5), ("add_offset", -4.0)))(
      (x, y, _) => raw(x, y))
    val got = Hdf5.scanNetcdf4Packed(spark, p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val live = for (y <- 0 until 6; x <- 0 until 8 if (x + y) % 5 != 0) yield (x, y)
    assert(got.size == live.size, s"${got.size} vs ${live.size}")
    live.foreach { case (x, y) =>
      assert(got((x, y)) == raw(x, y) * 0.5 - 4.0, s"($x,$y)") }
    assert(!got.values.exists(_ == fillRaw * 0.5 - 4.0))
  }

  test("attributes: packed unpack, skip-not-fatal, no-scale refusal") {
    def fp(x: Int, y: Int): Double = ((3 * x + 5 * y) % 60).toDouble
    val p = tmp("pk")
    Hdf5.writeHdf5Cube(p, "v", 0, 6, 8, 1, 4, 4, dtype = "<i2",
      deflate = true, fill = None,
      attrs = Seq(("scale_factor", 0.5), ("add_offset", -4.0),
        ("valid_max", 100.0)))((x, y, _) => fp(x, y))
    val got = Hdf5.scanNetcdf4Packed(spark, p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 48)
    for (y <- 0 until 6; x <- 0 until 8)
      assert(got((x, y)) == fp(x, y) * 0.5 - 4.0, s"($x,$y)")
    // the attrs surface all three numeric attributes
    val m = Hdf5.readMeta(p, "v")
    assert(m.attrs == Map("scale_factor" -> 0.5, "add_offset" -> -4.0,
      "valid_max" -> 100.0))
    // an unpacked variable refuses the packed scan by name
    val p2 = tmp("pk2")
    Hdf5.writeHdf5(p2, "v", 4, 4, 4, 4, dtype = "<f8")(fp)
    assert(msgs(intercept[Throwable](
      Hdf5.scanNetcdf4Packed(spark, p2, "v"))).contains("scale_factor"))
  }

  test("soft links: absolute + relative aliases resolve; cycles and externals loud") {
    val p = tmp("soft")
    Hdf5.writeHdf5V2(p, "data", 8, 8, 4, 4, dtype = "<f4", deflate = true,
      softAliases = Seq(("abs", "/data"), ("rel", "data"),
        ("hop", "/abs"), ("loop", "/loop")))(f)
    for (nm <- Seq("data", "abs", "rel", "hop")) {
      val got = h5(p, nm).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 64, nm)
      for (y <- 0 until 8; x <- 0 until 8) assert(got((x, y)) == f(x, y), s"$nm ($x,$y)")
    }
    // a self-referential soft link hits the depth cap loudly
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p, "loop"))).contains("cyclic"))
    // an EXTERNAL link (type 64) refuses by name: stomp a soft link's
    // type byte — root OHDR at 48, first soft message follows the
    // 7-byte prefix + 4 + (3 + 4 + 8) hard-link message, type at +6
    val p2 = tmp("soft2")
    Hdf5.writeHdf5V2(p2, "data", 8, 8, 4, 4, dtype = "<f4", deflate = true,
      softAliases = Seq(("al", "/data")))(f)
    val softMsgOff = 48 + 7 + 4 + (3 + 4 + 8)
    patch(p2, softMsgOff + 4 + 2, Array[Byte](64))
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p2, "al"))).contains("EXTERNAL"))
  }

  test("registry: scan_netcdf4_earray fixture matches the formula") {
    val cells = q("scan_netcdf4_earray")
    assert(cells.count() == 80L * 70L)
    import org.apache.spark.sql.functions._
    val bad = cells.filter(
      col("value") =!= (col("cell_x") * 23 + col("cell_y") * 19) % 983).count()
    assert(bad == 0, s"$bad cells off-formula")
  }

  test("4-axis window scan prunes the chunk manifest before any byte is read") {
    // the registry fixture is 3x4x70x80 at 2x3x32x32 → 2x2x3x3 = 36
    // chunks; the (t 2-2, level 1-2, x 10-50, y 8-40) window overlaps
    // exactly 1x1x2x2 = 4 of them
    val n = plannedChunks(h5(Hdf5.fixtureCube4dPath(), "v").filter(
      col("epoch") === 2 && col("level").between(1, 2) &&
        col("cell_x").between(10, 50) && col("cell_y").between(8, 40)))
    assert(n == 4, s"want 4 of 36 chunks, got $n")
  }

  test("group paths: g/v resolves through the nested symbol table; misses are loud") {
    val p = tmp("grp")
    Hdf5.writeHdf5Cube(p, "outer/data", 0, 6, 8, 1, 4, 5, dtype = "<f4",
      deflate = true)((x, y, _) => f(x, y))
    val got = h5(p, "outer/data").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 48)
    for (y <- 0 until 6; x <- 0 until 8) assert(got((x, y)) == f(x, y))
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p, "outer/nope"))).contains("not in file"))
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p, "wrong/data"))).contains("group 'wrong'"))
  }

  test("fill mask drops exactly the fill cells; no-fill dataset refuses") {
    val p = tmp("mask")
    Hdf5.writeHdf5(p, "v", 10, 13, 4, 5, dtype = "<f8",
      fill = Some(999.0), omit = Set((0, 0)))(f)
    val got = Hdf5.scanNetcdf4Fill(spark, p, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    // chunk (0,0) covers y 0-3, x 0-4 → masked out
    assert(got.size == 130 - 20)
    assert(!got.exists { case (x, y) => x < 5 && y < 4 })
    val p2 = tmp("masknone")
    Hdf5.writeHdf5(p2, "v", 4, 4, 4, 4, dtype = "<f8", fill = None)(f)
    assert(msgs(intercept[Throwable](
      Hdf5.scanNetcdf4Fill(spark, p2, "v"))).contains("no fill value"))
  }

  test("libver-latest (OHDR + fixed array): roundtrips, absent entry = fill") {
    for ((dt, defl, k) <- Seq(("<f8", true, 0), (">i2", false, 1))) {
      val p = tmp(s"v2rt$k")
      Hdf5.writeHdf5V2(p, "d", 10, 13, 4, 5, dtype = dt,
        deflate = defl, fill = 7.0, omit = Set((1, 1)))(f)
      val got = h5(p, "d").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 130, s"$dt defl=$defl")
      for (y <- 0 until 10; x <- 0 until 13) {
        // omitted chunk (1,1): y 4-7, x 5-9 → fill via the undefined
        // fixed-array entry
        val want = if (y >= 4 && y < 8 && x >= 5 && x < 10) 7.0 else f(x, y)
        assert(got((x, y)) == want, s"$dt defl=$defl ($x,$y)")
      }
    }
  }

  test("libver-latest NESTED group: OHDR root → OHDR group → dataset") {
    val p = tmp("v2grp")
    Hdf5.writeHdf5V2(p, "outer/data", 6, 8, 3, 4, dtype = "<f8",
      deflate = true)(f)
    val got = h5(p, "outer/data").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 48)
    for (y <- 0 until 6; x <- 0 until 8) assert(got((x, y)) == f(x, y), s"($x,$y)")
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p, "wrong/data"))).contains("group 'wrong'"))
  }

  test("libver-latest PAGED fixed array: pages + uninit-page fill round-trip") {
    // 10x13 with 4x5 chunks = 3x3 grid; 2^2-entry pages → 3 pages.
    // Page 1 (chunks 4-7) fully omitted → uninitialized bitmask bit →
    // every covered cell reads as fill.
    val p = tmp("v2paged")
    val page1 = Set((1, 1), (1, 2), (2, 0), (2, 1))
    Hdf5.writeHdf5V2(p, "d", 10, 13, 4, 5, dtype = "<f8",
      deflate = true, fill = 7.0, omit = page1, pageBits = 2)(f)
    val got = h5(p, "d").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 130)
    for (y <- 0 until 10; x <- 0 until 13) {
      val omitted = page1.contains((y / 4, x / 5))
      assert(got((x, y)) == (if (omitted) 7.0 else f(x, y)), s"($x,$y)")
    }
  }

  test("libver-latest refusals: dense link storage; index-type surgery") {
    // layout arithmetic for varName "d", f4, deflate: root OHDR is 27
    // bytes (link body 12), dataset OHDR chunk0 121 → FAHD at 207
    val p = tmp("v2refuse")
    Hdf5.writeHdf5V2(p, "d", 8, 8, 4, 4, dtype = "<f4", deflate = true)(f)
    val aFahd = 48 + 27 + 132
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(new String(b, aFahd, 4) == "FAHD", "layout arithmetic drifted")
    // layout tail is [idxType][pageBits][addr(8)][OHDR checksum(4)] —
    // the index-type byte sits 14 bytes before the FAHD block
    // every DEFINED v4 index type (1-5) now reads; an unknown id is
    // the remaining loud refusal
    patch(p, aFahd - 14, Array[Byte](6))
    assert(msgs(intercept[Throwable](Hdf5.readMeta(p, "d"))).contains("type 6 unsupported"))
    // stomp the root link message's type byte → no links AND no Link
    // Info message → the loud not-a-readable-group error
    val p2 = tmp("v2dense")
    Hdf5.writeHdf5V2(p2, "d", 8, 8, 4, 4, dtype = "<f4", deflate = true)(f)
    patch(p2, 48 + 7, Array[Byte](0x0C))
    assert(msgs(intercept[Throwable](Hdf5.readMeta(p2, "d"))).contains("Link Info"))
  }

  test("dense links: fractal-heap walk resolves every alias; misses and corners loud") {
    def fd(x: Int, y: Int): Double = ((11 * x + 5 * y) % 89).toDouble
    val p = tmp("dense")
    Hdf5.writeHdf5V2Dense(p, Seq("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta", "iota", "kappa"),
      10, 8, 4, 4, dtype = "<f8", deflate = true)(fd)
    // every alias resolves to the same lattice through the dense walk
    for (nm <- Seq("alpha", "kappa", "epsilon")) {
      val got = h5(p, nm).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 80, nm)
      for (y <- 0 until 10; x <- 0 until 8)
        assert(got((x, y)) == fd(x, y), s"$nm ($x,$y)")
    }
    // a missing name lists what IS there
    assert(msgs(intercept[Throwable](
      h5(p, "nope"))).contains("alpha"))
    // r16: an INDIRECT root walks for real — 150 links spill into 5
    // direct blocks (rows 0-1 of the doubling table) under an FHIB
    // root with Undef slots in row 1; resolving ANY name parses every
    // record, so one scan exercises all blocks
    val pi = tmp("denseind")
    val many = (0 until 150).map(i => f"v$i%03d")
    Hdf5.writeHdf5V2Dense(pi, many, 10, 8, 4, 4, dtype = "<f8",
      deflate = true)(fd)
    for (nm <- Seq("v000", "v074", "v149")) {
      val got = h5(pi, nm).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 80, nm)
      for (y <- 0 until 10; x <- 0 until 8)
        assert(got((x, y)) == fd(x, y), s"$nm ($x,$y)")
    }
    // the fixture really has an indirect root (FHIB present)
    val bi = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pi))
    assert((0 until bi.length - 4).exists(i =>
      bi(i) == 'F' && bi(i + 1) == 'H' && bi(i + 2) == 'I' && bi(i + 3) == 'B'),
      "indirect fixture contains an FHIB root")
    // surgery: rows past the direct region (indirect CHILD blocks)
    // refuse by name — curRows=12 > the 9 direct rows at 512/65536
    val aFrhp = 48 + 33
    val p2 = tmp("dense2")
    Hdf5.writeHdf5V2Dense(p2, Seq("a", "b"), 4, 4, 4, 4)(fd)
    patch(p2, aFrhp + 140, Array[Byte](12, 0))
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p2, "a"))).contains("INDIRECT"))
    // surgery: a deep v2 B-tree refuses by name (depth at BTHD+12)
    val aBthd = aFrhp + 146 + 512
    val p3 = tmp("dense3")
    Hdf5.writeHdf5V2Dense(p3, Seq("a", "b"), 4, 4, 4, 4)(fd)
    patch(p3, aBthd + 12, Array[Byte](1, 0))
    assert(msgs(intercept[Throwable](
      Hdf5.readMeta(p3, "a"))).contains("depth"))
  }

  test("dataset scan: rank-2 members tagged, coords/strings skip, groups recurse, soft links skip") {
    val p = tmp("dswalk")
    def fa(x: Int, y: Int): Double = ((3 * x + 7 * y) % 31).toDouble
    def fb(x: Int, y: Int): Double = ((5 * x + 11 * y) % 29).toDouble
    Hdf5.writeHdf5Multi(p, Seq(
      ("a", Seq(4, 6), "<f8", Array.tabulate(24)(i => fa(i % 6, i / 6))),
      ("b", Seq(4, 6), "<f8", Array.tabulate(24)(i => fb(i % 6, i / 6))),
      ("x", Seq(6), "<f4", Array.tabulate(6)(x => -10.0 + 0.5 * x))),
      strVars = Seq(("station", Seq("s0", "s1", "s2", "s3"))))
    assert(Hdf5.listDatasets2d(p) == Seq("a", "b"))
    val got = Hdf5.scanNetcdf4Dataset(spark, p).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(got.size == 48)
    for (y <- 0 until 4; x <- 0 until 6) {
      assert(got((x, y, "a")) == fa(x, y))
      assert(got((x, y, "b")) == fb(x, y))
    }
    // the group fixture's dataset lives at g/v — the walk recurses
    assert(Hdf5.listDatasets2d(Hdf5.fixtureGroupPath()) == Seq("g/v"))
    // rank dispatch: the rank-3 fixture lists under 3d, not 2d, and
    // its rank-1 coordinate member appears in neither
    assert(Hdf5.listDatasets3d(Hdf5.fixtureDataset3dPath()) == Seq("pr", "tas"))
    assert(Hdf5.listDatasets2d(Hdf5.fixtureDataset3dPath()).isEmpty)
    // the soft-link fixture aliases v -> /data: only the target lists
    // (following the alias would double-count its cells)
    assert(Hdf5.listDatasets2d(Hdf5.fixtureSoftPath()) == Seq("data"))
  }

  test("writeHdf5Multi mixed-member accounting: rank-1/2/3 + chunked + strings + attrs in one file") {
    // every member kind in ONE group: the writer's address accounting
    // (dsBody/dataSize/hdrAddrs/dataAddrs) self-checks with loud
    // requires, and every member must read back exactly
    val p = tmp("mixedmulti")
    def f2(x: Int, y: Int): Double = ((3 * x + 7 * y) % 31).toDouble
    def f3(x: Int, y: Int, t: Int): Double = ((3 * x + 7 * y + 11 * t) % 29).toDouble
    Hdf5.writeHdf5Multi(p, Seq(
      ("cube", Seq(2, 3, 5), "<f8", Array.tabulate(30)(i => f3(i % 5, i / 5 % 3, i / 15))),
      ("grid", Seq(3, 5), ">f4", Array.tabulate(15)(i => f2(i % 5, i / 5))),
      ("y", Seq(3), "<f4", Array.tabulate(3)(y => 2.0 + 0.25 * y))),
      strVars = Seq(("names", Seq("a", "bb", "ccc"))),
      chunkedCoords = Seq(("x", "<f8", Array.tabulate(5)(x => 1.5 * x), 2)),
      memberStrAttrs = Map(
        "x" -> Seq(("units", "degrees_east"), ("axis", "X")),
        "grid" -> Seq(("long_name", "test grid"))))
    val cube = h5(p, "cube").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(cube.size == 30)
    for (t <- 0 until 2; y <- 0 until 3; x <- 0 until 5)
      assert(cube((x, y, t)) == f3(x, y, t))
    val grid = h5(p, "grid").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(grid.size == 15 && grid((4, 2)) == f2(4, 2))
    val xs = Hdf5.scanNetcdf4Coord(spark, p, "x").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(xs == (0 until 5).map(x => x -> 1.5 * x).toMap)
    val ns = Hdf5.scanNetcdf4Strings(spark, p, "names").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ns == Map(0 -> "a", 1 -> "bb", 2 -> "ccc"))
    assert(Hdf5.readMeta(p, "x").strAttrs ==
      Map("units" -> "degrees_east", "axis" -> "X"))
    assert(Hdf5.readMeta(p, "grid").strAttrs == Map("long_name" -> "test grid"))
    // rank dispatch over the mixed file
    assert(Hdf5.listDatasets2d(p) == Seq("grid"))
    assert(Hdf5.listDatasets3d(p) == Seq("cube"))
  }

  test("CF time decode over HDF5: string attrs parse, window prunes, missing units refuses") {
    val p = Hdf5.fixtureTimePath()
    // the units STRING attribute round-trips the v1 attribute message
    val tm = Hdf5.readMeta(p, "t")
    assert(tm.strAttrs.get("units").contains(Hdf5.H5TimeUnits))
    assert(tm.strAttrs.get("calendar").contains("standard"))
    val all = h5t(p, "t")
    assert(all.count() == 5L * 70 * 80)
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-02T06:00:00Z")))
    val got = all.filter(col("t_ts").between(win._1, win._2))
      .select("epoch").distinct().collect().map(_.getInt(0)).toSet
    assert(got == Set(1, 2, 3), s"kept epochs $got")
    // a coordinate without a units attribute refuses loudly
    val p2 = tmp("timeless")
    Hdf5.writeHdf5Multi(p2, Seq(
      ("v", Seq(2, 3, 4), "<f8", Array.tabulate(24)(_.toDouble)),
      ("t", Seq(2), "<f8", Array.tabulate(2)(_.toDouble))))
    val e = intercept[Exception](h5t(p2, "t").collect())
    assert(e.getMessage.contains("units"))
  }

  test("rank-4 CF time: level rides through, window prunes data reads, rank refusals both ways (r18)") {
    // the face reads the rank from the variable: the rank-3 fixture has
    // no level axis, the rank-4 one carries it next to the labels
    assert(!h5t(Hdf5.fixtureTimePath(), "t").columns.contains("level"))
    assert(h5t(Hdf5.fixtureTime4dPath(), "t").columns.toSeq ==
      Seq("cell_x", "cell_y", "level", "epoch", "t_ts", "value"))
    // labels + level axis on the shared fixture
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T23:00:00Z")))
    val got = h5t(Hdf5.fixtureTime4dPath(), "t").filter(col("t_ts").between(win._1, win._2))
      .select("epoch", "t_ts", "level", "cell_x", "cell_y", "value")
    val eps = got.select("epoch").distinct().collect().map(_.getInt(0)).toSet
    assert(eps == Set(1, 2), s"kept epochs $eps")
    assert(got.select("level").distinct().count() == Hdf5.H54L.toLong)
    val one = got.filter("epoch = 1 AND level = 2 AND cell_x = 3 AND cell_y = 4")
      .collect()
    assert(one.length == 1 && one(0).getDouble(5) == Hdf5.h5Cube4dValue(3, 4, 2, 1)
      && one(0).getTimestamp(1).toInstant ==
        java.time.Instant.parse("2020-03-01T16:00:00Z"))
    // window prunes BEFORE data reads: truncate the last epoch's
    // contiguous planes away — a window excluding it never touches them
    val p = tmp("t4trunc")
    Hdf5.writeHdf5Multi(p, Seq(
      ("v", Seq(3, 2, 4, 5), "<f8", Array.tabulate(3 * 2 * 4 * 5)(_.toDouble)),
      ("tc", Seq(3), "<f8", Array(3.0, 10.0, 17.0))),
      memberStrAttrs = Map("tc" ->
        Seq(("units", "hours since 2020-03-01 06:00:00"))))
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      java.util.Arrays.copyOf(raw, raw.length - 2 * 4 * 5 * 8))
    val win2 = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T06:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T17:00:00Z")))
    // values are read (the face counts from geometry, reading no bytes)
    assert(h5t(p, "tc").filter(col("t_ts").between(win2._1, win2._2))
      .select("value").collect().length == 2L * 2 * 4 * 5)
    intercept[Exception](h5t(p, "tc").select("value").collect())
  }

  test("multi-file concat (HDF5): global axis, file-level prune via truncation, refusals (r18)") {
    val root = java.nio.file.Files.createTempDirectory("h5mf").toString
    def member(k: Int, days: Seq[Int], w: Int = 6): String = {
      val p = s"$root/m_$k.nc"
      Hdf5.writeHdf5Multi(p, Seq(
        ("v", Seq(days.length, 5, w), "<f8",
          Array.tabulate(days.length * 5 * w) { i =>
            val x = i % w; val y = i / w % 5; val j = i / (w * 5)
            (x + 10 * y + 100 * (2 * k + j)).toDouble
          })),
        chunkedCoords = Seq(("t", "<f8", days.map(_.toDouble).toArray, 2)),
        memberStrAttrs = Map("t" ->
          Seq(("units", "days since 2000-01-01"))))
      p
    }
    member(0, Seq(5, 15)); member(1, Seq(35, 45)); member(2, Seq(65, 75))
    val all = Hdf5.scanNetcdf4Mf(spark, root, "v")
    assert(all.count() == 6L * 30)
    val labs = all.select("epoch", "t_ts").distinct().collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(labs(0) == java.time.Instant.parse("2000-01-06T00:00:00Z"))
    assert(labs(5) == java.time.Instant.parse("2000-03-16T00:00:00Z"))
    val g3 = all.filter("epoch = 3 AND cell_x = 2 AND cell_y = 1").collect()
    assert(g3.length == 1 && g3(0).getDouble(4) == (2 + 10 + 300).toDouble,
      "global epoch 3 must read member 1's second slab")
    // file-level prune: truncate member 0's contiguous data tail ('v'
    // sorts after 't', so its blob is last) — the windowed scan that
    // excludes it never reads the missing bytes
    val p0 = java.nio.file.Paths.get(s"$root/m_0.nc")
    val raw = java.nio.file.Files.readAllBytes(p0)
    java.nio.file.Files.write(p0,
      java.util.Arrays.copyOf(raw, raw.length - 2 * 5 * 6 * 8))
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2000-02-01T00:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2000-03-07T00:00:00Z")))
    assert(Hdf5.scanNetcdf4Mf(spark, root, "v", "t", Some(win))
      .select("epoch").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(2, 3, 4))
    intercept[Exception](Hdf5.scanNetcdf4Mf(spark, root, "v").count())
    // overlap + shape refusals
    val r2 = java.nio.file.Files.createTempDirectory("h5mf_bad").toString
    def m2(r: String, k: Int, days: Seq[Int], w: Int = 6): Unit =
      Hdf5.writeHdf5Multi(s"$r/m_$k.nc", Seq(
        ("v", Seq(days.length, 5, w), "<f8",
          Array.fill(days.length * 5 * w)(1.0))),
        chunkedCoords = Seq(("t", "<f8", days.map(_.toDouble).toArray, 2)),
        memberStrAttrs = Map("t" ->
          Seq(("units", "days since 2000-01-01"))))
    m2(r2, 0, Seq(5, 45)); m2(r2, 1, Seq(35, 75))
    val eOv = intercept[IllegalArgumentException](
      Hdf5.scanNetcdf4Mf(spark, r2, "v").count())
    assert(eOv.getMessage.contains("strictly"), eOv.getMessage)
    val r3 = java.nio.file.Files.createTempDirectory("h5mf_shape").toString
    m2(r3, 0, Seq(5)); m2(r3, 1, Seq(35), w = 7)
    val eSh = intercept[Exception](Hdf5.scanNetcdf4Mf(spark, r3, "v").count())
    assert(eSh.getMessage.contains("differs"), eSh.getMessage)
  }

  test("multi-dataset group + rank-1 coordinates: decode, joins, refusals") {
    val p = tmp("coords")
    def fv(x: Int, y: Int): Double = ((3 * x + 7 * y) % 31).toDouble
    Hdf5.writeHdf5Multi(p, Seq(
      ("v", Seq(4, 6), "<f8", Array.tabulate(24)(i => fv(i % 6, i / 6))),
      ("x", Seq(6), "<f4", Array.tabulate(6)(x => -10.0 + 0.5 * x)),
      ("y", Seq(4), "<f4", Array.tabulate(4)(y => 2.0 + 0.25 * y))))
    val got = h5c(p).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 24)
    for (y <- 0 until 4; x <- 0 until 6)
      assert(got((x, y)) == ((-10.0 + 0.5 * x, 2.0 + 0.25 * y, fv(x, y))))
    // the bare coordinate scan, and a 2-D variable is not a coordinate
    val xs = Hdf5.scanNetcdf4Coord(spark, p, "x").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(xs == (0 until 6).map(x => x -> (-10.0 + 0.5 * x)).toMap)
    val e1 = intercept[Exception](Hdf5.scanNetcdf4Coord(spark, p, "v"))
    assert(e1.getMessage.contains("not a 1-D coordinate"))
    // CHUNKED rank-1 refuses by name: graft a rank-1 dataspace onto a
    // chunked dataset via byte surgery is fragile — the refusal was
    // retired in r17: CHUNKED rank-1 coordinate vectors read through
    // the 1×c chunk grid (partial edge chunk included) and join onto
    // the cube exactly like contiguous ones
    val g2 = h5(Hdf5.fixturePath(), "v").count()
    assert(g2 == 80 * 70)
    val pc = tmp("chunkedcoord")
    Hdf5.writeHdf5Multi(pc, Seq(
      ("v", Seq(4, 7), "<f8", Array.tabulate(28)(i => fv(i % 7, i / 7))),
      ("y", Seq(4), "<f4", Array.tabulate(4)(y => 2.0 + 0.25 * y))),
      chunkedCoords = Seq(
        ("x", "<f4", Array.tabulate(7)(x => -10.0 + 0.5 * x), 3)))
    val cx = Hdf5.scanNetcdf4Coord(spark, pc, "x").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(cx == (0 until 7).map(x => x -> (-10.0 + 0.5 * x)).toMap,
      s"chunked coordinate mangled: $cx")
    val cj = h5c(pc).collect()
    assert(cj.length == 28)
    cj.foreach { r =>
      val (x, y) = (r.getInt(0), r.getInt(1))
      assert(r.getDouble(2) == -10.0 + 0.5 * x && r.getDouble(3) == 2.0 + 0.25 * y
        && r.getDouble(4) == fv(x, y))
    }
    // STRING members (r16): a class-3 fixed-length table next to the
    // numeric datasets reads back trimmed; mixing up the entry points
    // is loud in both directions
    val p2 = tmp("strtab")
    Hdf5.writeHdf5Multi(p2, Seq(
      ("v", Seq(2, 3), "<f8", Array.tabulate(6)(_.toDouble)),
      ("x2", Seq(3), "<f4", Array.tabulate(3)(_.toDouble))),
      strVars = Seq(("names", Seq("alpha", "b", "gamma-long"))))
    val ns = Hdf5.scanNetcdf4Strings(spark, p2, "names").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(ns == Map(0 -> "alpha", 1 -> "b", 2 -> "gamma-long"))
    val vb = h5(p2, "v").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(vb.size == 6 && vb((2, 1)) == 5.0)
    val e2 = intercept[Exception](Hdf5.scanNetcdf4Strings(spark, p2, "v"))
    assert(e2.getMessage.contains("string tables are 1-D"))
    // a NUMERIC 1-D vector is not a string table either
    val e2b = intercept[Exception](Hdf5.scanNetcdf4Strings(spark, p2, "x2"))
    assert(e2b.getMessage.contains("not STRING"))
    val e3 = intercept[Exception](h5(p2, "names"))
    assert(e3.getMessage.contains("scanNetcdf4Strings"))
  }

  test("libver-latest checksums sit where the spec puts them") {
    val p = tmp("v2ck")
    Hdf5.writeHdf5V2(p, "d", 8, 8, 4, 4, dtype = "<f4", deflate = true)(f)
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def le32(off: Int) = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(off)
    assert(le32(44) == graft.zonal.Lookup3.hash(b, 0, 44), "superblock checksum")
    // root OHDR checksum: bytes [48, 48+23) with the trailing word at 71
    assert(le32(48 + 23) == graft.zonal.Lookup3.hash(b, 48, 23), "root OHDR checksum")
  }

  test("window scan prunes the chunk manifest before any byte is read") {
    // the registry fixture is 80x70 at 32x32 → 3x3 chunks; the window
    // overlaps exactly 4 of 9
    val n = plannedChunks(h5(Hdf5.fixturePath(), "v")
      .filter(col("cell_x").between(10, 50) && col("cell_y").between(8, 40)))
    assert(n == 4, s"want 4 of 9 chunks, got $n")
  }

  test("registry: scan_netcdf4 matches the formula; zonal stats cover all zones") {
    val cells = q("scan_netcdf4")
    assert(cells.count() == 80L * 70L)
    import org.apache.spark.sql.functions._
    val bad = cells.filter(
      col("value") =!= (col("cell_x") * 23 + col("cell_y") * 19) % 983).count()
    assert(bad == 0, s"$bad cells off-formula")
    val zs = q("zonal_netcdf4_stats").collect()
    assert(zs.length == 25)
  }
}
