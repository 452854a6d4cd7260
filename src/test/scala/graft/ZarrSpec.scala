package graft

import org.apache.spark.sql.functions._
import graft.zonal.Zarr

/** Zarr v2 reader gates: hand-built stores (bytes written independently
  * of [[Zarr.writeZarr]] — the oracle gate covers the writer+reader
  * pair; these cover the reader alone), fill/missing-chunk semantics,
  * dtype/endianness decode, and the named loud refusals.
  */
class ZarrSpec extends SparkSuite {

  /** A store through the Zarr DSv2 face. */
  private def zarr(dir: String) = spark.read.format("graft.zonal.ZarrSource").load(dir)

  /** Hierarchy member `v` with CF time labels from its sibling `t`. */
  private def zarrTime(dir: String) =
    spark.read.format("graft.zonal.ZarrSource").option("time", "t").load(s"$dir/v")

  private def tmpDir(name: String): java.io.File = {
    val d = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_io/zarrspec_$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d
  }

  private def put(d: java.io.File, name: String, bytes: Array[Byte]): Unit = {
    val f = new java.io.File(d, name)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
  }

  private def putText(d: java.io.File, name: String, text: String): Unit =
    put(d, name, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  test("hand-built raw <i4 store: exact cells, edge-pad clipped, missing chunk fills") {
    // 5 rows x 4 cols, 3x3 chunks -> 2x2 chunk grid; chunk (1,1) ABSENT
    // (fill_value 7 covers it); every other value = 100*y + x. Bytes are
    // hand-assembled little-endian int32, pad cells poisoned with -1 to
    // prove the reader clips them rather than trusting the writer's pad.
    val d = tmpDir("rawi4")
    putText(d, ".zarray",
      """{"zarr_format": 2, "shape": [5, 4], "chunks": [3, 3],
        |"dtype": "<i4", "compressor": null, "fill_value": 7,
        |"order": "C", "filters": null}""".stripMargin)
    def chunk(ci: Int, cj: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(9 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (rr <- 0 until 3; cc <- 0 until 3) {
        val y = ci * 3 + rr; val x = cj * 3 + cc
        b.putInt(if (y < 5 && x < 4) 100 * y + x else -1)
      }
      b.array()
    }
    put(d, "0.0", chunk(0, 0))
    put(d, "0.1", chunk(0, 1))
    put(d, "1.0", chunk(1, 0))
    // 1.1 deliberately absent -> fill 7 for its in-bounds cells
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 20, s"want 5x4 = 20 cells, got ${got.size}")
    for (y <- 0 until 5; x <- 0 until 4) {
      val want = if (y >= 3 && x >= 3) 7.0 else (100 * y + x).toDouble
      assert(got((x, y)) == want, s"cell ($x,$y): got ${got((x, y))}, want $want")
    }
  }

  test("hand-built big-endian >f4 store with / separator decodes exactly") {
    val d = tmpDir("bef4")
    putText(d, ".zarray",
      """{"zarr_format": 2, "shape": [2, 3], "chunks": [2, 2],
        |"dtype": ">f4", "compressor": null, "fill_value": 0.0,
        |"order": "C", "filters": null, "dimension_separator": "/"}""".stripMargin)
    def chunk(cj: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * 4).order(java.nio.ByteOrder.BIG_ENDIAN)
      for (rr <- 0 until 2; cc <- 0 until 2) {
        val y = rr; val x = cj * 2 + cc
        b.putFloat(if (x < 3) (1.5f + x + 10 * y) else -9f)
      }
      b.array()
    }
    put(d, "0/0", chunk(0))
    put(d, "0/1", chunk(1))
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    for (y <- 0 until 2; x <- 0 until 3)
      assert(got((x, y)) == (1.5f + x + 10 * y).toDouble)
  }

  test("writer+reader round-trip across codecs and dtypes equals the formula") {
    for ((comp, dtype) <- Seq(("raw", "<f8"), ("zlib", "<i4"), ("zstd", ">f8"),
        ("zlib", "<i2"), ("raw", "|u1"), ("blosc", "<f8"), ("blosc", ">i2"))) {
      val d = tmpDir(s"rt_${comp}_${dtype.replace("<", "l").replace(">", "b").replace("|", "n")}")
      Zarr.writeZarr(d.getPath, 10, 13, 4, 5, comp, dtype)((x, y) => ((3 * x + 7 * y) % 120).toDouble)
      val got = zarr(d.getPath).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.size == 130, s"$comp/$dtype: ${got.size} cells")
      for (y <- 0 until 10; x <- 0 until 13)
        assert(got((x, y)) == ((3 * x + 7 * y) % 120).toDouble, s"$comp/$dtype at ($x,$y)")
    }
  }

  test("chunk-parallel scan plan: one task per chunk, no whole-store read") {
    // the fixture is 80x70 at 32x32 -> 3x3 = 9 chunks; the scan's input
    // dataset must carry exactly 9 work units
    val m = Zarr.readMeta(Zarr.fixtureDir())
    assert(m.chunksAcross == 3 && m.chunksDown == 3)
    assert(plannedChunks(zarr(Zarr.fixtureDir())) == 9)
    assert(zarr(Zarr.fixtureDir()).count() == 80L * 70L)
  }

  private def msgs(t: Throwable): String =
    if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)

  test("hand-built BLOSC v2 store scans (memcpy'd frame, reader-only bytes)") {
    // a 2x2 <i4 store whose single chunk is a hand-assembled memcpy'd
    // blosc frame — no [[graft.zonal.Blosc.compress]] involvement, so
    // this gates the scan→decode integration for reader bytes alone
    // (BloscSpec pins the compressed-frame layouts)
    val d = tmpDir("bloscstore")
    putText(d, ".zarray",
      """{"zarr_format": 2, "shape": [2, 2], "chunks": [2, 2], "dtype": "<i4",
        |"compressor": {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0},
        |"fill_value": 0, "order": "C", "filters": null}""".stripMargin)
    val payload = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(11).putInt(22).putInt(33).putInt(44).array()
    val f = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(2.toByte).put(1.toByte).put((0x02 | (1 << 5)).toByte).put(4.toByte)
      .putInt(16).putInt(16).putInt(32).put(payload).array()
    put(d, "0.0", f)
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0, 0) -> 11.0, (1, 0) -> 22.0, (0, 1) -> 33.0, (1, 1) -> 44.0))
    // truncating the chunk fails loudly through the scan path too
    put(d, "0.0", f.take(31))
    assert(msgs(intercept[Throwable](
      zarr(d.getPath).collect())).contains("truncated"))
  }

  test("hand-built v3 TRANSPOSE store: column-major chunks remap exactly") {
    // 2x3 array, one 2x3 chunk stored COLUMN-major (transpose [1,0]):
    // values 100*y+x laid out x-fastest-last — a reader ignoring the
    // codec would emit a transposed lattice
    val d = tmpDir("v3trans")
    putText(d, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 3],
        |"data_type": "int32",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 0,
        |"codecs": [{"name": "transpose", "configuration": {"order": [1, 0]}},
        |           {"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    val b = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (x <- 0 until 3; y <- 0 until 2) b.putInt(100 * y + x) // column-major
    put(d, "c/0/0", b.array())
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    for (y <- 0 until 2; x <- 0 until 3)
      assert(got((x, y)) == (100 * y + x).toDouble, s"($x,$y)")
    // the identity order [0,1] is accepted as a no-op; a 3-entry order refuses
    val bad = tmpDir("v3transbad")
    putText(bad, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 3],
        |"data_type": "int32",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3]}},
        |"fill_value": 0,
        |"codecs": [{"name": "transpose", "configuration": {"order": [1, 0, 2]}},
        |           {"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    assert(msgs(intercept[Throwable](Zarr.readMeta(bad.getPath))).contains("transpose"))
  }

  test("hand-built RANK-3 store: t-major planes, all-axis pad clip, absent-chunk fill") {
    // 3×3×4 cube (t, y, x), chunks 2×2×3 → 2×2×2 grid; value
    // 100*t + 10*y + x; chunk (1,1,1) ABSENT (fill 7); pads poisoned
    val d = tmpDir("rank3")
    putText(d, ".zarray",
      """{"zarr_format": 2, "shape": [3, 3, 4], "chunks": [2, 2, 3],
        |"dtype": "<i2", "compressor": null, "fill_value": 7,
        |"order": "C", "filters": null}""".stripMargin)
    def chunk(ck: Int, ci: Int, cj: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(2 * 2 * 3 * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (tt <- 0 until 2; rr <- 0 until 2; cc <- 0 until 3) {
        val t = ck * 2 + tt; val y = ci * 2 + rr; val x = cj * 3 + cc
        b.putShort(if (t < 3 && y < 3 && x < 4) (100 * t + 10 * y + x).toShort
          else -1)
      }
      b.array()
    }
    for (ck <- 0 until 2; ci <- 0 until 2; cj <- 0 until 2
         if (ck, ci, cj) != ((1, 1, 1)))
      put(d, s"$ck.$ci.$cj", chunk(ck, ci, cj))
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 3 * 3 * 4)
    for (t <- 0 until 3; y <- 0 until 3; x <- 0 until 4) {
      // the absent chunk covers t=2, y=2, x=3 — all-fill there
      val want = if (t >= 2 && y >= 2 && x >= 3) 7.0 else (100 * t + 10 * y + x).toDouble
      assert(got((x, y, t)) == want, s"($x,$y,$t)")
    }
    assert(!got.values.exists(_ == -1.0), "poisoned pad leaked")
  }

  test("named loud refusals: F-order, 3-D, missing fill for absent chunk, v3") {
    def store(name: String, zarray: String): String = {
      val d = tmpDir(name)
      putText(d, ".zarray", zarray)
      d.getPath
    }
    // F-order is SUPPORTED at every rank (2-D r12, rank-3 r14, rank-4
    // r16); only unknown order strings refuse
    // rank-3 F roundtrips through the writer+reader pair
    val f3d = tmpDir("forder3rt")
    def ff3(x: Int, y: Int, t: Int): Double = 100 * t + 10 * y + x
    Zarr.writeZarr3d(f3d.getPath, 3, 4, 5, 2, 2, 3, compressor = "zlib",
      fOrder = true)(ff3)
    val g3 = zarr(f3d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(g3.size == 3 * 4 * 5)
    for (t <- 0 until 3; y <- 0 until 4; x <- 0 until 5)
      assert(g3((x, y, t)) == ff3(x, y, t), s"F3 ($x,$y,$t)")
    val forderX = store("forderx",
      """{"zarr_format": 2, "shape": [4, 4], "chunks": [2, 2], "dtype": "<f8",
        |"compressor": null, "fill_value": 0, "order": "X", "filters": null}""".stripMargin)
    assert(msgs(intercept[Throwable](Zarr.readMeta(forderX))).contains("order"))

    // rank-3 (r12) and rank-4 (r13) are SUPPORTED; rank-5 refuses, and
    // the 2-D scan path refuses rank-3/rank-4 stores by name
    val fiveD = store("fived",
      """{"zarr_format": 2, "shape": [2, 2, 4, 4, 4], "chunks": [1, 1, 2, 2, 2], "dtype": "<f8",
        |"compressor": null, "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
    assert(msgs(intercept[Throwable](Zarr.readMeta(fiveD))).contains("5-D"))
    val threeD = store("threed",
      """{"zarr_format": 2, "shape": [4, 4, 4], "chunks": [2, 2, 2], "dtype": "<f8",
        |"compressor": null, "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
    // the face reads the rank from the store: rank 3 adds `epoch`
    assert(zarr(threeD).columns.toSeq == Seq("cell_x", "cell_y", "epoch", "value"))
    val fourD = store("fourd",
      """{"zarr_format": 2, "shape": [2, 2, 4, 4], "chunks": [1, 1, 2, 2], "dtype": "<f8",
        |"compressor": null, "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
    // ...and rank 4 adds `level` too
    assert(zarr(fourD).columns.toSeq == Seq("cell_x", "cell_y", "level", "epoch", "value"))
    // rank-4 F (r16) roundtrips through the writer+reader pair — a
    // non-uniform lattice so any axis mixup in the remap mismatches
    val f4d = tmpDir("forder4rt")
    def ff4(x: Int, y: Int, l: Int, t: Int): Double =
      1000 * t + 100 * l + 10 * y + x
    Zarr.writeZarr4d(f4d.getPath, 3, 2, 4, 5, 2, 1, 2, 3, compressor = "zlib",
      fOrder = true)(ff4)
    val g4 = zarr(f4d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    assert(g4.size == 3 * 2 * 4 * 5)
    for (t <- 0 until 3; l <- 0 until 2; y <- 0 until 4; x <- 0 until 5)
      assert(g4((x, y, l, t)) == ff4(x, y, l, t), s"F4 ($x,$y,$l,$t)")

    // absent chunk + fill_value null -> loud at read time, not silent zeros
    val noFill = store("nofill",
      """{"zarr_format": 2, "shape": [2, 2], "chunks": [2, 2], "dtype": "<f8",
        |"compressor": null, "fill_value": null, "order": "C", "filters": null}""".stripMargin)
    assert(msgs(intercept[Throwable](
      zarr(noFill).collect())).contains("fill_value"))

    // a v3 GROUP document has no chunks — named refusal, not a misread
    val v3g = tmpDir("v3group")
    putText(v3g, "zarr.json", """{"zarr_format": 3, "node_type": "group"}""")
    assert(msgs(intercept[Throwable](Zarr.readMeta(v3g.getPath))).contains("node_type"))

    // unsupported sharding index codecs are refused by name (sharding
    // itself IS supported — tested below)
    val v3bad = tmpDir("v3badidx")
    putText(v3bad, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [4, 4],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 4]}},
        |"fill_value": 0,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [2, 2],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |  "index_codecs": [{"name": "crc32c"}],
        |  "index_location": "end"}}]}""".stripMargin)
    assert(msgs(intercept[Throwable](Zarr.readMeta(v3bad.getPath))).contains("index_codecs"))
  }

  test("sharded v3 store: hand-built shard with index footer, crc, missing inner chunk") {
    // 4x4 array = ONE 4x4 shard of 2x2 raw little-endian f8 inner
    // chunks; inner (1,1) omitted (all-ones index entry) -> fill 9.
    // Index: 4 x (offset, nbytes) u64 LE + crc32c, at the end.
    val d = tmpDir("v3shand")
    putText(d, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [4, 4],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 4]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 9,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [2, 2],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |  "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |                   {"name": "crc32c"}],
        |  "index_location": "end"}}]}""".stripMargin)
    def inner(ii: Int, jj: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (rr <- 0 until 2; cc <- 0 until 2)
        b.putDouble(100 * (ii * 2 + rr) + (jj * 2 + cc))
      b.array()
    }
    val body = new java.io.ByteArrayOutputStream()
    val idx = java.nio.ByteBuffer.allocate(4 * 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for ((ii, jj) <- Seq((0, 0), (0, 1), (1, 0))) {
      val enc = inner(ii, jj)
      idx.putLong(body.size.toLong); idx.putLong(enc.length.toLong)
      body.write(enc)
    }
    idx.putLong(-1L); idx.putLong(-1L) // inner (1,1) absent -> fill
    val crc = new java.util.zip.CRC32C()
    crc.update(idx.array())
    body.write(idx.array())
    body.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt).array())
    put(d, "c/0/0", body.toByteArray)
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 16)
    for (y <- 0 until 4; x <- 0 until 4) {
      val want = if (y >= 2 && x >= 2) 9.0 else (100 * y + x).toDouble
      assert(got((x, y)) == want, s"cell ($x,$y): got ${got((x, y))}")
    }
    // corrupt one index byte -> the crc check is loud, not a misread
    val fb = new java.io.File(d, "c/0/0")
    val corrupted = java.nio.file.Files.readAllBytes(fb.toPath)
    corrupted(corrupted.length - 12) = (corrupted(corrupted.length - 12) ^ 0x5a).toByte
    java.nio.file.Files.write(fb.toPath, corrupted)
    val e = intercept[Throwable] { zarr(d.getPath).collect() }
    assert(msgs(e).contains("crc32c"), msgs(e))
    // windowed scan over a shard PRUNES inner chunks before decode:
    // rebuild the shard with inner (1,1) POISONED (valid index entry,
    // garbage bytes) — the full scan throws, the window that touches
    // only inner (0,0) decodes fine because (1,1) is never touched
    val d2 = tmpDir("v3swin")
    putText(d2, "zarr.json",
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(d, "zarr.json").toPath),
        java.nio.charset.StandardCharsets.UTF_8))
    val body2 = new java.io.ByteArrayOutputStream()
    val idx2 = java.nio.ByteBuffer.allocate(4 * 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for ((ii, jj) <- Seq((0, 0), (0, 1), (1, 0))) {
      val enc = inner(ii, jj)
      idx2.putLong(body2.size.toLong); idx2.putLong(enc.length.toLong)
      body2.write(enc)
    }
    idx2.putLong(body2.size.toLong); idx2.putLong(8L) // poisoned (1,1)
    body2.write(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)) // not valid raw f8x4
    val crc2 = new java.util.zip.CRC32C()
    crc2.update(idx2.array())
    body2.write(idx2.array())
    body2.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc2.getValue.toInt).array())
    put(d2, "c/0/0", body2.toByteArray)
    intercept[Throwable] { zarr(d2.getPath).collect() }
    val win = zarr(d2.getPath).filter(col("cell_x").between(0, 1) && col("cell_y").between(0, 1))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(win == Map((0, 0) -> 0.0, (1, 0) -> 1.0, (0, 1) -> 100.0, (1, 1) -> 101.0))
    // the DSv2 face threads its pushed window into the ref the same
    // way (r18): the windowed read never touches the poisoned inner
    // chunk, the full read fails on it
    import org.apache.spark.sql.functions.col
    val dsv2 = spark.read.format("graft.zonal.ZarrSource").load(d2.getPath)
    intercept[Throwable] { dsv2.select("value").collect() }
    val winD = dsv2
      .filter(col("cell_x").between(0, 1) && col("cell_y").between(0, 1))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(winD == win, s"DSv2 windowed shard read must equal the Dataset path: $winD")

    // writer+reader round trip through the registry fixture formula
    val cells = q("scan_zarr_sharded")
    assert(cells.count() == 80L * 70L)
    val bad = cells.filter(
      col("value") =!= (col("cell_x") * 29 + col("cell_y") * 13) % 991).count()
    assert(bad == 0, s"$bad cells off-formula")
  }

  test("hand-built Zarr v3 store: default keys, gzip chain, v2 key encoding") {
    // 5x4 of 3x3 int32 chunks under c/ci/cj, big-endian + gzip;
    // chunk (1,1) absent -> fill 7
    val d = tmpDir("v3hand")
    putText(d, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [5, 4],
        |"data_type": "int32",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [3, 3]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 7,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "big"}},
        |           {"name": "gzip", "configuration": {"level": 6}}]}""".stripMargin)
    def chunk(ci: Int, cj: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(9 * 4).order(java.nio.ByteOrder.BIG_ENDIAN)
      for (rr <- 0 until 3; cc <- 0 until 3) {
        val y = ci * 3 + rr; val x = cj * 3 + cc
        b.putInt(if (y < 5 && x < 4) 100 * y + x else -1)
      }
      // the v3 gzip codec is RFC-1952 FRAMES (what zarr-python writes),
      // not raw zlib — built here with the JDK stream, independent of
      // the reader's codec path
      val bo = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(b.array()); gz.close()
      bo.toByteArray
    }
    put(d, "c/0/0", chunk(0, 0))
    put(d, "c/0/1", chunk(0, 1))
    put(d, "c/1/0", chunk(1, 0))
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 20)
    for (y <- 0 until 5; x <- 0 until 4) {
      val want = if (y >= 3 && x >= 3) 7.0 else (100 * y + x).toDouble
      assert(got((x, y)) == want, s"cell ($x,$y): got ${got((x, y))}")
    }
    // v2 chunk-key encoding inside a v3 document: flat ci.cj names
    val d2 = tmpDir("v3v2keys")
    putText(d2, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 2],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        |"chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},
        |"fill_value": 0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    val b2 = java.nio.ByteBuffer.allocate(4 * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 2.0, 3.0, 4.0).foreach(b2.putDouble)
    put(d2, "0.0", b2.array())
    val got2 = zarr(d2.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got2 == Map((0, 0) -> 1.0, (1, 0) -> 2.0, (0, 1) -> 3.0, (1, 1) -> 4.0))
    // registry twin: the v3 fixture replays the same formula
    val cells = q("scan_zarr_v3")
    assert(cells.count() == 80L * 70L)
    val bad = cells.filter(
      col("value") =!= (col("cell_x") * 29 + col("cell_y") * 13) % 991).count()
    assert(bad == 0, s"$bad cells off-formula")
  }

  test("consolidated metadata: member .zarray never read (deleted), misses loud") {
    val d = tmpDir("consol")
    Zarr.writeZarr(s"$d/a", 4, 6, 2, 3, "raw", "<i4")((x, y) => (10 * y + x).toDouble)
    Zarr.writeZarr(s"$d/b", 4, 6, 2, 3, "raw", "<i4")((x, y) => (100 + x + y).toDouble)
    // a 1-D COORDINATE array (every real xarray hierarchy has them):
    // consolidation must SKIP it, not refuse the whole dataset
    new java.io.File(d, "x").mkdirs()
    putText(d, "x/.zarray",
      """{"zarr_format": 2, "shape": [6], "chunks": [6], "dtype": "<i4",
        |"compressor": null, "fill_value": 0, "order": "C", "filters": null}""".stripMargin)
    Zarr.consolidateMetadata(d.getPath, Seq("a", "b", "x"))
    assert(Zarr.readZMetadata(d.getPath).keySet == Set("a", "b"))
    // the PROOF: delete a's own .zarray — a consolidated reader must
    // not touch it
    assert(new java.io.File(d, "a/.zarray").delete())
    val got = Zarr.scanZarrConsolidated(spark, d.getPath, "a").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 24)
    for (y <- 0 until 4; x <- 0 until 6) assert(got((x, y)) == (10 * y + x).toDouble)
    // the direct per-array path now fails (no .zarray) — consolidation
    // really was the only metadata source
    assert(msgs(intercept[Throwable](Zarr.readMeta(s"${d.getPath}/a"))).contains(".zarray"))
    // unknown member and missing .zmetadata refuse by name
    assert(msgs(intercept[Throwable](
      Zarr.scanZarrConsolidated(spark, d.getPath, "nope"))).contains("not in .zmetadata"))
    val d2 = tmpDir("noconsol")
    assert(msgs(intercept[Throwable](
      Zarr.readZMetadata(d2.getPath))).contains(".zmetadata"))
    // the dataset scan unions both members with their names
    val ds = Zarr.scanZarrDataset(spark, d.getPath).collect()
    assert(ds.length == 48 && ds.map(_.getString(2)).toSet == Set("a", "b"))
    // a rank-4 member passes .zmetadata parsing but the consolidated
    // scan refuses it BY NAME up front (r14 — previously the guard let
    // it through to fail later with dead-end advice)
    Zarr.writeZarr4d(s"$d/c4", 2, 2, 4, 6, 1, 1, 2, 3,
      compressor = "raw")((_, _, _, _) => 1.0)
    Zarr.consolidateMetadata(d.getPath, Seq("b", "c4"))
    assert(msgs(intercept[Throwable](
      Zarr.scanZarrConsolidated(spark, d.getPath, "c4"))).contains("rank-3/4"))
  }

  test("v3 GROUP hierarchy: directory walk, inline consolidation, nesting, skips, refusals") {
    def fv(x: Int, y: Int): Double = (10 * y + x).toDouble
    def fw(x: Int, y: Int): Double = (100 + x + y).toDouble
    // un-consolidated: root group doc + per-member zarr.json walk,
    // with a NESTED subgroup and a 1-D coordinate member to skip
    val d = tmpDir("v3grp")
    Zarr.writeV3GroupDoc(d.getPath)
    Zarr.writeZarrV3(s"$d/a", 4, 6, 2, 3, compressor = "raw")(fv)
    Zarr.writeV3GroupDoc(s"$d/sub")
    Zarr.writeZarrV3(s"$d/sub/b", 4, 6, 2, 3, compressor = "gzip")(fw)
    Zarr.writeV3Coord(s"$d/x", 6)
    val got = Zarr.scanZarrV3Dataset(spark, d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(got.size == 48)
    assert(got.keySet.map(_._3) == Set("a", "sub/b"))
    for (y <- 0 until 4; x <- 0 until 6) {
      assert(got((x, y, "a")) == fv(x, y), s"a ($x,$y)")
      assert(got((x, y, "sub/b")) == fw(x, y), s"sub/b ($x,$y)")
    }
    // inline consolidated metadata (zarr-python 3 consolidation): the
    // members come from the ROOT document — the PROOF deletes a child
    // zarr.json and the scan still reads it
    val c = tmpDir("v3consol")
    Zarr.writeZarrV3(s"$c/a", 4, 6, 2, 3, compressor = "raw")(fv)
    val aDoc = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(c, "a/zarr.json").toPath), "UTF-8")
    putText(c, "zarr.json",
      s"""{"zarr_format": 3, "node_type": "group",
         | "consolidated_metadata": {"kind": "inline", "must_understand": false,
         |   "metadata": {"a": $aDoc,
         |     "x": {"node_type": "array", "shape": [6]},
         |     "sub": {"node_type": "group"}}}}""".stripMargin)
    assert(new java.io.File(c, "a/zarr.json").delete())
    val gc = Zarr.scanZarrV3Dataset(spark, c.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(gc.size == 24)
    for (y <- 0 until 4; x <- 0 until 6) assert(gc((x, y)) == fv(x, y))
    // refusals: root that is an ARRAY document, and an empty group
    val e1 = msgs(intercept[Throwable](
      Zarr.readV3Group(s"${d.getPath}/a")))
    assert(e1.contains("not a group"))
    val e2 = tmpDir("v3empty")
    Zarr.writeV3GroupDoc(e2.getPath)
    assert(msgs(intercept[Throwable](
      Zarr.scanZarrV3Dataset(spark, e2.getPath).collect())).contains("no 2-D arrays"))
    // ...and an ARRAY scan pointed at a group document names the fix
    assert(msgs(intercept[Throwable](
      Zarr.readMeta(d.getPath))).contains("scanZarrV3Dataset"))
  }

  test("hand-built RANK-4 store: (t, level)-major planes, all-axis pad clip, absent-chunk fill") {
    // 3×2×3×4 cube (t, level, y, x), chunks 2×1×2×3 → 2×2×2×2 grid;
    // value 1000*t + 100*l + 10*y + x; chunk (1,1,1,1) ABSENT
    // (fill 7); pads poisoned
    val d = tmpDir("rank4")
    putText(d, ".zarray",
      """{"zarr_format": 2, "shape": [3, 2, 3, 4], "chunks": [2, 1, 2, 3],
        |"dtype": "<i2", "compressor": null, "fill_value": 7,
        |"order": "C", "filters": null}""".stripMargin)
    def chunk(ck: Int, cl: Int, ci: Int, cj: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(2 * 1 * 2 * 3 * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (tt <- 0 until 2; ll <- 0 until 1; rr <- 0 until 2; cc <- 0 until 3) {
        val t = ck * 2 + tt; val l = cl + ll
        val y = ci * 2 + rr; val x = cj * 3 + cc
        b.putShort(if (t < 3 && l < 2 && y < 3 && x < 4)
          (1000 * t + 100 * l + 10 * y + x).toShort else -1)
      }
      b.array()
    }
    for (ck <- 0 until 2; cl <- 0 until 2; ci <- 0 until 2; cj <- 0 until 2
         if (ck, cl, ci, cj) != ((1, 1, 1, 1)))
      put(d, s"$ck.$cl.$ci.$cj", chunk(ck, cl, ci, cj))
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    assert(got.size == 3 * 2 * 3 * 4)
    for (t <- 0 until 3; l <- 0 until 2; y <- 0 until 3; x <- 0 until 4) {
      // the absent chunk covers t=2, l=1, y=2, x=3 — all-fill there
      val want = if (t >= 2 && l >= 1 && y >= 2 && x >= 3) 7.0
        else (1000 * t + 100 * l + 10 * y + x).toDouble
      assert(got((x, y, l, t)) == want, s"($x,$y,$l,$t)")
    }
    assert(!got.values.exists(_ == -1.0), "poisoned pad leaked")
  }

  test("hand-built v3 RANK-4 store: nested c/ck/cl/ci/cj keys through the shared decode") {
    // 2×2×2×3 (t, level, y, x), chunks 1×1×2×2 → keys c/ck/cl/ci/cj
    val d = tmpDir("rank4v3")
    putText(d, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 2, 2, 3],
        |"data_type": "int32",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [1, 1, 2, 2]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    for (ck <- 0 until 2; cl <- 0 until 2; ci <- 0 until 1; cj <- 0 until 2) {
      val b = java.nio.ByteBuffer.allocate(2 * 2 * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (rr <- 0 until 2; cc <- 0 until 2) {
        val y = rr; val x = cj * 2 + cc
        b.putInt(if (y < 2 && x < 3) 1000 * ck + 100 * cl + 10 * y + x else -1)
      }
      val f = new java.io.File(d, s"c/$ck/$cl/$ci/$cj")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, b.array())
    }
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4)).toMap
    assert(got.size == 2 * 2 * 2 * 3)
    for (t <- 0 until 2; l <- 0 until 2; y <- 0 until 2; x <- 0 until 3)
      assert(got((x, y, l, t)) == (1000 * t + 100 * l + 10 * y + x).toDouble, s"($x,$y,$l,$t)")
  }

  test("rank-4 window prunes the manifest in all four axes") {
    // fixture grid: 2 (t: 3/2) × 2 (level: 4/3) × 3 × 3 = 36 chunks;
    // the window (t 2-2, l 1-2, x 10-50, y 8-40) overlaps
    // 1 (t-chunk 1) × 1 (level-chunk 0) × 2 × 2 = 4 chunks of 36
    val n = plannedChunks(zarr(Zarr.fixture4dDir()).filter(
      col("epoch") === 2 && col("level").between(1, 2) &&
        col("cell_x").between(10, 50) && col("cell_y").between(8, 40)))
    assert(n == 4, s"want 4 of 36 chunks, got $n")
  }

  test("rank-3 window prunes the manifest in all three axes") {
    // fixture grid: 3 t-chunks? 5/2 = 3 along, 3x3 spatial; the window
    // (t 2-4, x 10-50, y 8-40) overlaps 2 (along) x 2 x 2 = 8 chunks
    // of 27
    val n = plannedChunks(zarr(Zarr.fixture3dDir()).filter(
      col("epoch").between(2, 4) &&
        col("cell_x").between(10, 50) && col("cell_y").between(8, 40)))
    assert(n == 8, s"want 8 of 27 chunks, got $n")
  }

  test("hand-built RANK-3 shard: C-order inner grid with leading axis, absent inner fill") {
    // 2x4x4 array = ONE 2x4x4 shard of 1x2x2 raw LE f8 inner chunks:
    // inner grid is 2x2x2 in C-order (t leading); inner (1,1,1)
    // omitted (all-ones entry) -> fill 9
    val d = tmpDir("v3shand3")
    putText(d, "zarr.json",
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 4, 4],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 4, 4]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 9,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [1, 2, 2],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |  "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |                   {"name": "crc32c"}],
        |  "index_location": "end"}}]}""".stripMargin)
    def f3(x: Int, y: Int, t: Int): Double = 1000 * t + 100 * y + x
    def inner(it: Int, ii: Int, jj: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (rr <- 0 until 2; cc <- 0 until 2)
        b.putDouble(f3(jj * 2 + cc, ii * 2 + rr, it))
      b.array()
    }
    val body = new java.io.ByteArrayOutputStream()
    val idx = java.nio.ByteBuffer.allocate(8 * 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (it <- 0 until 2; ii <- 0 until 2; jj <- 0 until 2) {
      if (it == 1 && ii == 1 && jj == 1) { idx.putLong(-1L); idx.putLong(-1L) }
      else {
        val enc = inner(it, ii, jj)
        idx.putLong(body.size.toLong); idx.putLong(enc.length.toLong)
        body.write(enc)
      }
    }
    val crc = new java.util.zip.CRC32C()
    crc.update(idx.array())
    body.write(idx.array())
    body.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt).array())
    put(d, "c/0/0/0", body.toByteArray)
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 32)
    for (t <- 0 until 2; y <- 0 until 4; x <- 0 until 4) {
      val want = if (t == 1 && y >= 2 && x >= 2) 9.0 else f3(x, y, t)
      assert(got((x, y, t)) == want, s"cell ($x,$y,$t): got ${got((x, y, t))}")
    }
    // the writer+reader pair over a padded multi-shard cube, incl. an
    // edge shard in every axis
    val d2 = tmpDir("v3s3rt")
    Zarr.writeZarr3dSharded(d2.getPath, 3, 5, 7, 2, 4, 4, 1, 2, 2)(f3)
    val rt = zarr(d2.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(rt.size == 3 * 5 * 7)
    for (t <- 0 until 3; y <- 0 until 5; x <- 0 until 7)
      assert(rt((x, y, t)) == f3(x, y, t), s"rt ($x,$y,$t)")
    // rank-4 sharding (r14): writer+reader pair over a padded
    // multi-shard cube with edge shards in every axis
    def f4(x: Int, y: Int, l: Int, t: Int): Double =
      10000 * t + 1000 * l + 100 * y + x
    val d4 = tmpDir("v3s4rt")
    Zarr.writeZarr4dSharded(d4.getPath, 3, 2, 5, 7, 2, 1, 4, 4, 1, 1, 2, 2)(f4)
    val rt4 = zarr(d4.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4))
      .toMap
    assert(rt4.size == 3 * 2 * 5 * 7)
    for (t <- 0 until 3; l <- 0 until 2; y <- 0 until 5; x <- 0 until 7)
      assert(rt4((x, y, l, t)) == f4(x, y, l, t), s"rt4 ($x,$y,$l,$t)")
  }

  test("sharded store with blosc-zlib inner chunks round-trips the formula") {
    val d = tmpDir("shardblosc")
    Zarr.writeZarrV3Sharded(d.getPath, 20, 26, 16, 16, 8, 8,
      compressor = "blosc-zlib")((x, y) => ((7 * x + 3 * y) % 97).toDouble)
    val got = zarr(d.getPath).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 20 * 26)
    for (y <- 0 until 20; x <- 0 until 26)
      assert(got((x, y)) == ((7 * x + 3 * y) % 97).toDouble, s"($x,$y)")
  }

  test("window scan prunes the chunk manifest before any byte is read") {
    // 80x70 at 32x32 -> 3x3 grid; window (10..50, 8..40) overlaps only
    // the 2x2 low corner = 4 of 9 chunks
    val m = Zarr.readMeta(Zarr.fixtureDir())
    val all = Zarr.chunkRefs(m, Zarr.fixtureDir())
    val kept = all.filter(r =>
      r.cj * m.chunkW <= 50 && (r.cj + 1) * m.chunkW > 10 &&
      r.ci * m.chunkH <= 40 && (r.ci + 1) * m.chunkH > 8)
    assert(all.size == 9 && kept.size == 4, s"${all.size} -> ${kept.size}")
    val rows = zarr(Zarr.fixtureDir())
      .filter(col("cell_x").between(10, 50) && col("cell_y").between(8, 40)).count()
    assert(rows == 41L * 33L, s"window rows $rows")
  }

  test("epoch stack: one DataFrame across codec-heterogeneous stores; misaligned lattices refuse") {
    val st = Zarr.scanZarrEpochs(spark,
      Seq(Zarr.fixtureDir(), Zarr.fixture2Dir()))
    assert(st.count() == 2L * 80 * 70)
    // a store on a different lattice fails loudly at metadata time
    val d = tmpDir("misaligned")
    Zarr.writeZarr(d.getPath, 10, 10, 5, 5, "raw")((x, y) => x + y)
    val e = intercept[IllegalArgumentException](
      Zarr.scanZarrEpochs(spark, Seq(Zarr.fixtureDir(), d.getPath)))
    assert(e.getMessage.contains("misaligned"), e.getMessage)
  }

  test("un-consolidated v2 group: walk finds nested members, skips coords, refuses non-groups") {
    val dir = java.nio.file.Files.createTempDirectory("zgrp").toString
    def grp(d: String): Unit = {
      new java.io.File(d).mkdirs()
      java.nio.file.Files.write(new java.io.File(d, ".zgroup").toPath,
        """{"zarr_format": 2}""".getBytes("UTF-8"))
    }
    grp(dir); grp(s"$dir/sub")
    Zarr.writeZarr(s"$dir/a", 3, 4, 2, 2, compressor = "raw")((x, y) => (10 * y + x).toDouble)
    Zarr.writeZarr(s"$dir/sub/b", 3, 4, 4, 4, compressor = "zlib")((x, y) => (100 * y + x).toDouble)
    Zarr.writeZarrCoord(s"$dir/x", 4, 4, compressor = "raw")(_.toDouble)
    val got = Zarr.scanZarrGroup(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(got.size == 24, s"2 members x 12 cells, coord skipped: ${got.size}")
    for (y <- 0 until 3; x <- 0 until 4) {
      assert(got((x, y, "a")) == (10 * y + x).toDouble)
      assert(got((x, y, "sub/b")) == (100 * y + x).toDouble)
    }
    // a bare array dir is not a group
    val e = intercept[Exception](Zarr.scanZarrGroup(spark, s"$dir/a"))
    assert(e.getMessage.contains(".zgroup"))
    // rank dispatch: a cube-only group has no 2-D members and vice versa
    val e2 = intercept[Exception](
      Zarr.scanZarrGroup(spark, Zarr.fixtureGroup3dDir()))
    assert(e2.getMessage.contains("no 2-D arrays"))
    val e3 = intercept[Exception](Zarr.scanZarrGroup3d(spark, dir))
    assert(e3.getMessage.contains("no rank-3 arrays"))
  }

  test("CF time decode: window keeps exactly the in-range epochs; missing units refuses") {
    val dir = Zarr.fixtureTimeDir()
    // unwindowed: every epoch labelled, count conserved
    val all = zarrTime(dir)
    assert(all.count() == 5L * 70 * 80)
    // windowed: inclusive lower bound keeps epoch 1 (16:00 exactly)
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-02T06:00:00Z")))
    val got = all.filter(col("t_ts").between(win._1, win._2))
      .select("epoch").distinct().collect().map(_.getInt(0)).toSet
    assert(got == Set(1, 2, 3), s"kept epochs $got")
    // a coordinate without units refuses loudly
    val bare = java.nio.file.Files.createTempDirectory("zt").toString
    Zarr.writeZarr3d(s"$bare/v", 2, 4, 4, 1, 4, 4, compressor = "raw")(
      (x, y, t) => (x + y + t).toDouble)
    Zarr.writeZarrCoord(s"$bare/t", 2, 2, compressor = "raw")(_.toDouble)
    val e = intercept[Exception](zarrTime(bare).collect())
    assert(e.getMessage.contains("units"))
  }

  test("time window prunes the CHUNK MANIFEST: a poisoned out-of-window chunk is never read") {
    val dir = java.nio.file.Files.createTempDirectory("ztp").toString
    Zarr.writeZarr3d(s"$dir/v", 5, 8, 8, 1, 8, 8, compressor = "zlib")(
      (x, y, t) => (x + 10 * y + 100 * t).toDouble)
    Zarr.writeZarrCoord(s"$dir/t", 5, 5, compressor = "raw")(i => 7.0 * i + 3.0)
    java.nio.file.Files.write(new java.io.File(s"$dir/t", ".zattrs").toPath,
      """{"units": "hours since 2020-03-01 06:00:00"}""".getBytes("UTF-8"))
    // poison epoch 4's chunk: zlib inflate of garbage fails LOUDLY if read
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/v/4.0.0"),
      Array[Byte](1, 2, 3, 4, 5))
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-02T06:00:00Z")))
    // windowed (epochs 1-3): the poisoned chunk costs zero bytes (values
    // are read: the face counts from geometry without reading chunks)
    val got = zarrTime(dir).filter(col("t_ts").between(win._1, win._2))
    assert(got.select("value").collect().length == 3L * 64)
    // unwindowed: the poisoned chunk IS read and fails loudly
    val e = intercept[Exception](zarrTime(dir).select("value").collect())
    assert(e != null)
  }

  test("v3 SHARDED cube + CF time compose: decode, window prune at shard granularity (r18)") {
    // the r17 v3 time decode and the sharding codec existed separately;
    // this pins their composition: a sharded rank-3 v3 cube next to a
    // v3 t coordinate, time-decoded and windowed through the same
    // scanZarrV3Time path (shard = 2 epochs × 8×8, inner 1×4×4)
    val dir = java.nio.file.Files.createTempDirectory("z3sht").toString
    def f(x: Int, y: Int, t: Int): Double = (x + 10 * y + 100 * t).toDouble
    Zarr.writeZarr3dSharded(s"$dir/v", 4, 8, 8, 2, 8, 8, 1, 4, 4,
      compressor = "gzip")(f)
    Zarr.writeZarrV3Coord(s"$dir/t", 4, 4,
      attrs = Seq(("units", "hours since 2020-03-01 06:00:00"),
        ("calendar", "standard")))(i => 7.0 * i + 3.0)
    val all = Zarr.scanZarrV3Time(spark, dir, "v", "t", None)
    assert(all.count() == 4L * 64)
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T06:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")))
    val got = Zarr.scanZarrV3Time(spark, dir, "v", "t", Some(win))
    assert(got.select("epoch").distinct().collect().map(_.getInt(0)).toSet
      == Set(0, 1), "window keeps epochs 0-1 (09:00, 16:00)")
    val rows = got.collect().map(r =>
      (r.getInt(0), r.getInt(2), r.getInt(3)) ->
        ((r.getTimestamp(1).toInstant, r.getDouble(4)))).toMap
    assert(rows.size == 2 * 64)
    for (t <- 0 until 2; y <- 0 until 8; x <- 0 until 8)
      assert(rows((t, x, y)) == ((
        java.time.Instant.parse("2020-03-01T06:00:00Z")
          .plusSeconds((7L * t + 3) * 3600), f(x, y, t))),
        s"cell ($x,$y,$t)")
    // INNER t-chunk pruning inside a shard (r18): poison every epoch-1
    // inner chunk of shard 0 (entries k=4..7 in the C-order index) —
    // a window keeping only epoch 0 must never decode them, while the
    // unwindowed scan fails loudly on the garbage gzip bytes
    val shard = new java.io.File(s"$dir/v/c/0/0/0")
    val bytes = java.nio.file.Files.readAllBytes(shard.toPath)
    val idxDataLen = 8 * 16
    val idxOff = bytes.length - idxDataLen - 4 // crc32c-suffixed index
    val bb = java.nio.ByteBuffer.wrap(bytes, idxOff, idxDataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (k <- 4 until 8) { // gk=1 inner chunks: k = 1*4 + i*2 + j
      val off = bb.getLong(idxOff + k * 16).toInt
      val nb = bb.getLong(idxOff + k * 16 + 8).toInt
      java.util.Arrays.fill(bytes, off, off + nb, 0x5a.toByte)
    }
    java.nio.file.Files.write(shard.toPath, bytes)
    val w0 = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T06:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T10:00:00Z")))
    val only0 = Zarr.scanZarrV3Time(spark, dir, "v", "t", Some(w0))
    assert(only0.count() == 64, "epoch-0 window must skip the poisoned epoch-1 inner chunks")
    assert(only0.select("epoch").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    intercept[Exception](
      Zarr.scanZarrV3Time(spark, dir, "v", "t", None).select("value").collect())
  }

  test("multi-hierarchy concat (Zarr): global axis, member-level prune, overlap/shape refusals (r18)") {
    val root = java.nio.file.Files.createTempDirectory("zmf").toString
    def member(k: Int, days: Seq[Int], w: Int = 8): Unit = {
      val d = s"$root/m_$k"
      Zarr.writeZarr3d(s"$d/v", days.length, 5, w, days.length, 5, w,
        compressor = "zlib")((x, y, t) => (x + 10 * y + 100 * (2 * k + t)).toDouble)
      Zarr.writeZarrCoord(s"$d/t", days.length, days.length,
        compressor = "raw")(j => days(j).toDouble)
      java.nio.file.Files.write(new java.io.File(s"$d/t", ".zattrs").toPath,
        """{"units": "days since 2000-01-01"}""".getBytes("UTF-8"))
    }
    member(0, Seq(5, 15)); member(1, Seq(35, 45)); member(2, Seq(65, 75))
    val all = Zarr.scanZarrMf(spark, root, "v")
    assert(all.count() == 6L * 40)
    val labs = all.select("epoch", "t_ts").distinct().collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(labs(0) == java.time.Instant.parse("2000-01-06T00:00:00Z"))
    assert(labs(5) == java.time.Instant.parse("2000-03-16T00:00:00Z"))
    val g3 = all.filter("epoch = 3 AND cell_x = 2 AND cell_y = 1").collect()
    assert(g3.length == 1 && g3(0).getDouble(4) == (2 + 10 + 300).toDouble,
      "global epoch 3 must read member 1's second slab")
    // member-level prune: poison member 0's only chunk — a window
    // excluding it never touches the bytes; unwindowed fails loudly
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/m_0/v/0.0.0"),
      Array[Byte](9, 9, 9))
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2000-02-01T00:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2000-03-07T00:00:00Z")))
    assert(Zarr.scanZarrMf(spark, root, "v", "t", Some(win))
      .select("epoch").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(2, 3, 4))
    intercept[Exception](Zarr.scanZarrMf(spark, root, "v").count())
    // overlapping members refuse
    val r2 = java.nio.file.Files.createTempDirectory("zmf_bad").toString
    def m2(r: String, k: Int, days: Seq[Int], w: Int = 8): Unit = {
      val d = s"$r/m_$k"
      Zarr.writeZarr3d(s"$d/v", days.length, 5, w, days.length, 5, w,
        compressor = "raw")((x, y, t) => 1.0)
      Zarr.writeZarrCoord(s"$d/t", days.length, days.length,
        compressor = "raw")(j => days(j).toDouble)
      java.nio.file.Files.write(new java.io.File(s"$d/t", ".zattrs").toPath,
        """{"units": "days since 2000-01-01"}""".getBytes("UTF-8"))
    }
    m2(r2, 0, Seq(5, 45)); m2(r2, 1, Seq(35, 75))
    val eOv = intercept[IllegalArgumentException](
      Zarr.scanZarrMf(spark, r2, "v").count())
    assert(eOv.getMessage.contains("strictly"), eOv.getMessage)
    // mismatched shape refuses
    val r3 = java.nio.file.Files.createTempDirectory("zmf_shape").toString
    m2(r3, 0, Seq(5)); m2(r3, 1, Seq(35), w = 9)
    val eSh = intercept[Exception](Zarr.scanZarrMf(spark, r3, "v").count())
    assert(eSh.getMessage.contains("differs"), eSh.getMessage)
  }

  test("rank-4 CF time (Zarr): poisoned out-of-window t-chunk never read; rank refusals (r18)") {
    val dir = java.nio.file.Files.createTempDirectory("z4tp").toString
    // T=4 L=2, chunkT=2 → t-chunks {0,1} and {2,3}
    Zarr.writeZarr4d(s"$dir/v", 4, 2, 8, 8, 2, 2, 8, 8, compressor = "zlib")(
      (x, y, l, t) => (x + 10 * y + 100 * l + 1000 * t).toDouble)
    Zarr.writeZarrCoord(s"$dir/t", 4, 4, compressor = "raw")(i => 7.0 * i + 3.0)
    java.nio.file.Files.write(new java.io.File(s"$dir/t", ".zattrs").toPath,
      """{"units": "hours since 2020-03-01 06:00:00"}""".getBytes("UTF-8"))
    // poison the second t-chunk column (ck=1): inflate fails if read
    for (cl <- 0 until 1; ci <- 0 until 1; cj <- 0 until 1)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/v/1.$cl.$ci.$cj"),
        Array[Byte](1, 2, 3, 4, 5))
    // window keeps epochs 0-1 (09:00, 16:00): ck=1 costs zero bytes
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T06:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")))
    val got = Zarr.scanZarrTime4d(spark, dir, "v", "t", Some(win))
    assert(got.count() == 2L * 2 * 64)
    val one = got.filter("epoch = 1 AND level = 1 AND cell_x = 2 AND cell_y = 3")
      .collect()
    assert(one.length == 1 && one(0).getDouble(5) == (2 + 30 + 100 + 1000).toDouble
      && one(0).getTimestamp(1).toInstant ==
        java.time.Instant.parse("2020-03-01T16:00:00Z"))
    // unwindowed: the poisoned chunk IS read and fails loudly
    intercept[Exception](Zarr.scanZarrTime4d(spark, dir, "v", "t", None).count())
    // rank refusals both ways
    val e3 = intercept[IllegalArgumentException](
      Zarr.scanZarrTime4d(spark, Zarr.fixtureTimeDir(), "v").count())
    assert(e3.getMessage.contains("rank-4"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      zarrTime(Zarr.fixtureTime4dDir()).count())
    assert(e4.getMessage.contains("rank-3") || e4.getMessage.contains("rank-4"),
      e4.getMessage)
  }

  test("v3 coordinates + time: inline attributes, window pruning, refusals") {
    // v3 rank-1 roundtrip across codecs + a partial edge chunk
    val cd = java.nio.file.Files.createTempDirectory("v3c").toString
    Zarr.writeZarrV3Coord(s"$cd/x", 7, 3, compressor = "zstd")(i => 2.5 * i - 1.0)
    val xs = Zarr.scanZarrV3Coord(spark, s"$cd/x").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(xs == (0 until 7).map(i => i -> (2.5 * i - 1.0)).toMap)
    // time: unwindowed conserves, window keeps epochs 1-3, no units refuses
    val td = Zarr.fixtureV3TimeDir()
    assert(Zarr.scanZarrV3Time(spark, td, "v", "t", None).count() == 5L * 70 * 80)
    val win = (java.sql.Timestamp.from(java.time.Instant.parse("2020-03-01T16:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2020-03-02T06:00:00Z")))
    val kept = Zarr.scanZarrV3Time(spark, td, "v", "t", Some(win))
      .select("epoch").distinct().collect().map(_.getInt(0)).toSet
    assert(kept == Set(1, 2, 3), s"kept $kept")
    val bare = java.nio.file.Files.createTempDirectory("v3t").toString
    Zarr.writeZarr3dV3(s"$bare/v", 2, 4, 4, 1, 4, 4, compressor = "raw")(
      (x, y, t) => (x + y + t).toDouble)
    Zarr.writeZarrV3Coord(s"$bare/t", 2, 2, compressor = "raw")(_.toDouble)
    val e = intercept[Exception](
      Zarr.scanZarrV3Time(spark, bare, "v", "t", None).collect())
    assert(e.getMessage.contains("units"))
    // a 2-D node is not a coordinate
    val e2 = intercept[Exception](Zarr.scanZarrV3Coord(spark, s"$bare/v"))
    assert(e2.getMessage.contains("rank-1"))
  }

  test("registry queries: scan_zarr cells match the formula; zonal stats cover all zones") {
    val cells = q("scan_zarr")
    assert(cells.count() == 80L * 70L)
    val bad = cells.filter(
      col("value") =!= (col("cell_x") * 29 + col("cell_y") * 13) % 991).count()
    assert(bad == 0, s"$bad cells off-formula")
    val zs = q("zonal_zarr_stats").collect()
    assert(zs.length == 25, s"want 25 zones, got ${zs.length}")
    assert(zs.forall(_.getLong(1) == 64L), "every 8x8 zone envelope lies inside the 80x70 cube")
  }
}
