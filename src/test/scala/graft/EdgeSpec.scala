package graft

import org.apache.spark.sql.functions._

/** Edge cases from SURVEY.md §5.3: empty inputs, empty join sides,
  * all-NULL columns, degenerate arrays.
  */
class EdgeSpec extends SparkSuite {
  import spark.implicits._

  private val left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
  private val empty = Seq.empty[(Int, String)].toDF("k", "v2")

  test("joins against an empty side") {
    assert(left.join(empty, Seq("k"), "inner").count() == 0)
    val lj = left.join(empty, Seq("k"), "left")
    assert(lj.count() == 3 && lj.filter(col("v2").isNotNull).count() == 0)
    assert(left.join(empty, Seq("k"), "left_semi").count() == 0)
    assert(left.join(empty, Seq("k"), "left_anti").count() == 3)
    assert(left.join(empty, Seq("k"), "full").count() == 3)
  }

  test("aggregation over empty input and empty groups") {
    val g = empty.groupBy("k").agg(count(lit(1)))
    assert(g.count() == 0, "groupBy over empty input must yield no groups")
    val global = empty.agg(count(lit(1)).as("n"), sum(col("k")).as("s")).head
    assert(global.getLong(0) == 0 && global.isNullAt(1),
      "global agg over empty input: count 0, sum NULL")
  }

  test("all-NULL column aggregation") {
    val df = Seq((1, None: Option[Double]), (2, None)).toDF("k", "x")
    val r = df.agg(sum("x").as("s"), avg("x").as("a"), count(col("x")).as("n"),
      min("x").as("mn")).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0 && r.isNullAt(3))
  }

  test("three-valued logic: NULL comparisons filter out, IS NULL keeps") {
    val df = Seq((1, Some(5.0)), (2, None), (3, Some(7.0))).toDF("k", "x")
    assert(df.filter(col("x") > 6).count() == 1)          // NULL > 6 → filtered
    assert(df.filter(!(col("x") > 6)).count() == 1)       // NOT(NULL) → filtered
    assert(df.filter(col("x").isNull || col("x") > 6).count() == 2)
  }

  test("explode of empty arrays drops rows; explode_outer keeps a null row") {
    val df = Seq((1, Seq("a")), (2, Seq.empty[String])).toDF("k", "arr")
    assert(df.select(col("k"), explode(col("arr"))).count() == 1)
    assert(df.select(col("k"), explode_outer(col("arr"))).count() == 2)
  }

  test("minhash skips docs with fewer than 3 tokens") {
    val docs = Seq((1L, "one two"), (2L, "one two three four")).toDF("doc_id", "text")
    val sigs = llm.Dedup.minhash(docs).collect()
    assert(sigs.map(_.getLong(0)).toSet == Set(2L))
  }

  test("zonal stats over a zone table with no matching cells is empty, not an error") {
    val cells = zonal.Cube.cells(spark, sf)
    val farZones = Seq((99, "nowhere", 1000, 1007, 1000, 1007))
      .toDF("zone_id", "zone_name", "xmin", "xmax", "ymin", "ymax")
    assert(zonal.Zonal.stats(cells, farZones).count() == 0)
  }

  test("redaction on empty and non-matching text is the identity with 0 hits") {
    val docs = Seq((1L, ""), (2L, "nothing sensitive here"), (3L, "customer data"))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        regexp_replace(col("text"), "\\b(customer|supplier)\\b", "[REDACTED]").as("r"),
        size(expr("regexp_extract_all(text, '\\\\b(customer|supplier)\\\\b', 0)")).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got(1L) == ("", 0) && got(2L) == ("nothing sensitive here", 0)
      && got(3L) == ("[REDACTED] data", 1))
  }

  test("corpus-clean pipeline on a corpus where nothing survives the gate is empty") {
    val docs = Seq((1L, "too short"), (2L, "way too short")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val scored = docs.select(col("doc_id"), col("lang"), col("source"),
      size(split(lower(col("text")), " ")).as("n_tokens"),
      md5(col("text").cast("binary")).as("fp"))
    val kept = scored.filter(col("n_tokens").between(15, 80))
    val keep = kept.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
    assert(kept.join(keep, kept("fp") === keep("fp")
      && kept("doc_id") === keep("keep_id")).count() == 0)
  }

  test("point_in_wkb fails loudly on fractional WKB coordinates, never truncates") {
    // hand-built little-endian WKB Polygon, one ring
    def wkbSquare(x0: Double, y0: Double, side: Double): Array[Byte] = {
      val pts = Seq((x0, y0), (x0 + side, y0), (x0 + side, y0 + side), (x0, y0 + side), (x0, y0))
      val buf = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 4 + pts.size * 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(1.toByte); buf.putInt(3); buf.putInt(1); buf.putInt(pts.size)
      pts.foreach { case (x, y) => buf.putDouble(x); buf.putDouble(y) }
      buf.array()
    }
    val df = Seq(Tuple1(wkbSquare(0.5, 0.5, 2.0))).toDF("geom")
    val err = intercept[Exception] {
      df.select(expr("point_in_wkb(1, 1, geom)")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(_.getMessage != null)
      && causes(err).exists(c => c.getMessage != null
        && c.getMessage.contains("integral lattice coordinates")),
      s"expected the loud integral-coordinate error, got: $err")
    // the integral-lattice path is untouched
    val ok = Seq(Tuple1(wkbSquare(0.0, 0.0, 2.0))).toDF("geom")
      .select(expr("point_in_wkb(1, 1, geom)").as("in"),
        expr("point_in_wkb(5, 5, geom)").as("out"))
      .head
    assert(ok.getBoolean(0) && !ok.getBoolean(1))
  }

  test("cosine_sim of a vector with itself is 1; orthogonal vectors 0") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).collect().map(_.getDouble(0))
    assert(got(0) == 1.0 && got(1) == 0.0)
  }

  test("batch packing: batches are contiguous in doc order and bounded by budget + one doc") {
    // the distributed prefix sum must reproduce the sequential packing
    // invariants: batches cover disjoint contiguous doc_id ranges, and a
    // batch's token sum can exceed the 2000 budget only by its straddling
    // last doc
    val rows = SparkEntry.queries("pipeline_pack_batches")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(4) < b.getLong(3),
          s"batches ${a.getLong(0)} and ${b.getLong(0)} overlap in doc ranges")
      case _ =>
    }
    val maxDoc = graft.core.Tables.documents(spark, sf)
      .select(max(size(split(lower(col("text")), " ")))).head.getInt(0)
    rows.foreach { r =>
      assert(r.getLong(2) <= 2000L + maxDoc,
        s"batch ${r.getLong(0)} sum ${r.getLong(2)} exceeds budget + max doc $maxDoc")
    }
  }

  test("LSH mega-bucket guard: 10k docs behind one band key fail loudly, never explode") {
    // a degenerate corpus region — 10k near-identical docs — lands every
    // doc in the same LSH bucket; the candidate generator must raise
    // BEFORE enumerating the ~50M in-bucket pairs (the quadratic blowup
    // round 5 flagged), not OOM a task
    val boiler = (1L to 10000L).map(i =>
      (i, "the exact same boilerplate sentence repeated across the corpus"))
      .toDF("doc_id", "text")
    val e = intercept[Throwable](graft.llm.Dedup.minhashPairs(boiler).count())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(e).contains("mega-bucket"), s"wanted the loud guard, got: ${msgs(e)}")
    // under the cap the same pipeline enumerates pairs normally
    val small = (1L to 5L).map(i =>
      (i, "the exact same boilerplate sentence repeated across the corpus"))
      .toDF("doc_id", "text")
    assert(graft.llm.Dedup.minhashPairs(small).count() == 10) // C(5,2)
  }

  private def msgs(t: Throwable): String =
    if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)

  test("sign-band mega-bucket guard: 10k identical embeddings fail loudly, never explode") {
    // the embedding-side twin of the text guard (round-7 verdict item 1):
    // correlated/degenerate embeddings put every vector behind one band
    // signature — the candidate generator must raise BEFORE the in-bucket
    // pair product, not OOM a task on ~50M pairs
    val vec = Array.fill(64)(1.0f)
    val degenerate = (1L to 10000L).map(i => (i, 1, vec))
      .toDF("vec_id", "label", "embedding")
    val e = intercept[Throwable](
      graft.llm.Sim.signCandidatesOf(degenerate).count())
    assert(msgs(e).contains("mega-bucket"), s"wanted the loud guard, got: ${msgs(e)}")
    val small = (1L to 5L).map(i => (i, 1, vec)).toDF("vec_id", "label", "embedding")
    assert(graft.llm.Sim.signCandidatesOf(small).count() == 10) // C(5,2)
  }

  test("SimHash segment mega-bucket guard: 10k identical blobs fail loudly, never explode") {
    val boiler = (1L to 10000L).map(i =>
      (i, "the exact same boilerplate blob content repeated across the corpus"))
      .toDF("doc_id", "text")
    val e = intercept[Throwable](
      graft.llm.Multimodal.mmNearDupPairs(boiler, cap = 4096).count())
    assert(msgs(e).contains("mega-bucket"), s"wanted the loud guard, got: ${msgs(e)}")
    val small = (1L to 5L).map(i =>
      (i, "the exact same boilerplate blob content repeated across the corpus"))
      .toDF("doc_id", "text")
    // identical blobs: Hamming 0, all C(5,2) pairs survive the verify
    assert(graft.llm.Multimodal.mmNearDupPairs(small, cap = 4096).count() == 10)
  }

  test("Hamming segment mega-bucket guard: 10k shared-prefix docs fail loudly, never explode") {
    // r10 verdict item 1: k docs sharing one 8-char normalized segment
    // (boilerplate prefixes — near-certain in web corpora) used to emit
    // k²/2 candidate rows with no cap; the guard must raise BEFORE the
    // segment self-join enumerates the in-bucket product
    val boiler = (1L to 10000L).map(i =>
      (i, s"SAMEPREF IX then unique tail number $i padded out to length"))
      .toDF("doc_id", "text")
    val e = intercept[Throwable](graft.llm.Text.hammingPairs(boiler).count())
    assert(msgs(e).contains("mega-bucket"), s"wanted the loud guard, got: ${msgs(e)}")
    // identical docs under the cap: Hamming 0, all C(5,2) pairs survive
    val small = (1L to 5L).map(i =>
      (i, "the exact same boilerplate sentence repeated across the corpus"))
      .toDF("doc_id", "text")
    assert(graft.llm.Text.hammingPairs(small).count() == 10)
  }

  test("fuzzy-match mega-bucket guard: 10k parts sharing one word key fail loudly, never explode") {
    // r10 verdict item 2: a stopword-like token shared by k parts within
    // one (p_brand, p_size) group used to emit k²/2 candidates uncapped
    val boiler = (1L to 10000L).map(i =>
      (i, "Brand#11", 7, s"common shade widget $i"))
      .toDF("p_partkey", "p_brand", "p_size", "p_name")
    val e = intercept[Throwable](graft.llm.Text.fuzzyMatch(boiler).count())
    assert(msgs(e).contains("mega-bucket"), s"wanted the loud guard, got: ${msgs(e)}")
    // under the cap: names differ only in a 1-char tail digit → edit
    // distance ≤ 2 everywhere, all C(5,2) pairs survive the verify
    val small = (1L to 5L).map(i =>
      (i, "Brand#11", 7, s"common shade widget $i"))
      .toDF("p_partkey", "p_brand", "p_size", "p_name")
    assert(graft.llm.Text.fuzzyMatch(small).count() == 10)
  }

  test("polygonize packed-argmin guard: a mask past the corner-key range fails loudly, never corrupts") {
    // r9 verdict item 5: the successor argmin packs (pri, ekey) as
    // pri·100000 + ekey; an ekey ≥ 100000 (≈158×158 corners — here a
    // narrow mask at huge cy, so the test stays tiny) used to silently
    // corrupt the unpacked successor through the public polygonizeMask
    // entry point. The in-plan guard must raise before any ring walks.
    val far = Seq((0L, 25000L), (1L, 25000L), (0L, 25001L), (1L, 25001L))
      .toDF("cx", "cy")
    val e = intercept[Throwable](
      graft.zonal.Polygonize.polygonizeMask(far, 3L).count())
    assert(msgs(e).contains("packed-argmin range"),
      s"wanted the loud pack guard, got: ${msgs(e)}")
    // the same shape at small coordinates polygonizes normally: one
    // region, one 2×2 square ring of 4 corners, area 4
    val near = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)).toDF("cx", "cy")
    val rows = graft.zonal.Polygonize.polygonizeMask(near, 3L).collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("n_cells") == 4L
      && rows.head.getAs[Long]("area2") == 8L,
      s"control mask wrong: ${rows.mkString(";")}")
  }

  test("r19 DSv2 LIMIT boundary sweep: limit(K) returns exactly min(K, total) on all four sources") {
    // the r18 scan_source_limit_prune red row: a pushed LIMIT plans a
    // geometry-exact chunk/stripe/tile prefix — sweep K at and around
    // every first-partition boundary (1024 = one 32x32 tile, 2048 = one
    // 2x32x32 chunk) plus the exact-total edge, so an off-by-one in the
    // covering-prefix arithmetic (acc == limit boundary) under-delivers
    // loudly here instead of nondeterministically in the driver artifact
    val srcs: Seq[(String, Long, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("zarr", graft.zonal.Zarr.Zarr3T.toLong * graft.zonal.Zarr.ZarrH * graft.zonal.Zarr.ZarrW,
        () => spark.read.format("graft.zonal.ZarrSource").load(graft.zonal.Zarr.fixture3dDir())),
      ("hdf5", graft.zonal.Hdf5.H5T.toLong * graft.zonal.Hdf5.H5H * graft.zonal.Hdf5.H5W,
        () => spark.read.format("graft.zonal.Hdf5Source")
          .option("var", "v").load(graft.zonal.Hdf5.fixtureCubePath())),
      ("netcdf", graft.zonal.Netcdf.NcEpochs.toLong * graft.zonal.Netcdf.NcH * graft.zonal.Netcdf.NcW,
        () => spark.read.format("graft.zonal.NetcdfSource")
          .option("var", "t2m").load(graft.zonal.Netcdf.epochsFixturePath())),
      ("tiff", graft.zonal.Raster.FixW.toLong * graft.zonal.Raster.FixH,
        () => spark.read.format("graft.zonal.TiffSource").load(graft.zonal.Raster.fixturePath())))
    for ((label, total, mk) <- srcs) {
      val ks = Seq(1L, 500L, 1023L, 1024L, 1025L, 2047L, 2048L, 2049L,
        total - 1, total, total + 7)
      for (k <- ks if k >= 1) {
        val got = mk().limit(k.toInt).count()
        assert(got == math.min(k, total),
          s"$label limit($k): got $got, want ${math.min(k, total)} (total $total)")
      }
    }
    // the exact r18 red-row shape: limit(500).agg(count) per source,
    // UNIONed, under AQE — a scan whose reported rowCount is capped at
    // the pushed limit lets EliminateLimits drop the GlobalLimit while
    // TWO prefix partitions each LocalLimit-truncate to 500 → 1000.
    // The stat must be the emitted-cell count of the planned prefix.
    val u = srcs.map { case (label, _, mk) =>
      mk().limit(500).agg(count(lit(1)).as("n"))
        .select(lit(label).as("src"), col("n"))
    }.reduce(_ unionAll _).orderBy("src")
    assert(u.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      srcs.map(_._1).sorted.map(_ -> 500L),
      "unioned limit+agg must return exactly 500 per source (EliminateLimits regression)")
  }
}
