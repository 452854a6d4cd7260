package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Plan-shape assertions (SURVEY.md §5.5): the optimizer work we rely on
  * at 100 TB must actually appear in the physical plans — pushed
  * filters, pruned read schemas, the right join strategies, top-k
  * without a global sort, two-phase aggregation, codegen spans.
  */
class PlanShapeSpec extends SparkSuite {

  private def plan(name: String): String =
    q(name).queryExecution.executedPlan.toString

  test("filter predicates are pushed into the parquet scan") {
    // the toString rendering truncates PushedFilters — read the scan
    // node's metadata directly
    val scans = q("filter_compare").queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pushed = scans.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("GreaterThan(l_quantity"), s"no pushed quantity filter in: $pushed")
  }

  test("geoparquet window: bbox predicates push to the parquet scan") {
    val scans = q("scan_geoparquet_window").queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pushed = scans.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("LessThanOrEqual(xmin") && pushed.contains("GreaterThanOrEqual(xmax"),
      s"bbox filters not pushed: $pushed")
  }

  test("column pruning reaches the scan (ReadSchema excludes unused columns)") {
    val p = plan("project_select")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("l_returnflag"),
      s"unused column not pruned: $readSchema")
  }

  test("dimension joins broadcast; fact-fact joins sort-merge; theta NLJ") {
    assert(plan("join_inner_broadcast").contains("BroadcastHashJoin"))
    assert(plan("join_inner_shuffle").contains("SortMergeJoin"))
    assert(plan("join_theta").contains("BroadcastNestedLoopJoin"))
  }

  test("r17 time-zonal + dataset scans: broadcasts where claimed, no sort-merge on the cube side") {
    // windowed zonal: the zone rasterize AND the epoch-label join both
    // broadcast — the cube side never shuffles before the aggregation
    for (nm <- Seq("zonal_netcdf_time", "zonal_zarr_time", "zonal_netcdf4_time")) {
      val p = plan(nm)
      assert(p.contains("BroadcastHashJoin"), s"$nm: no broadcast join\n$p")
      assert(!p.contains("SortMergeJoin"), s"$nm: cube side shuffled into a sort-merge join\n$p")
    }
    // coordinate decode: two broadcast index joins, plan otherwise flat
    for (nm <- Seq("scan_zarr_v3_coords")) {
      val p = plan(nm)
      assert(p.contains("BroadcastHashJoin"), s"$nm: labels not broadcast\n$p")
      assert(!p.contains("SortMergeJoin"), s"$nm: label join shuffled\n$p")
    }
    // through the DSv2 face the labels are columns of the scan: no join
    for (nm <- Seq("scan_netcdf4_coords", "scan_netcdf_coords")) {
      val p = plan(nm)
      assert(p.contains("BatchScan") && !p.contains("Join"),
        s"$nm: labels not read in the scan\n$p")
    }
  }

  test("limit_n plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("limit_n")
    assert(p.contains("TakeOrderedAndProject"), p.take(1000))
  }

  test("grouped aggregation is two-phase (partial before the shuffle)") {
    val p = plan("agg_basic")
    assert(p.contains("partial_"), s"no partial aggregation in:\n${p.take(2000)}")
  }

  test("subquery predicates decorrelate to semi-joins") {
    val p = plan("filter_subquery")
    assert(p.contains("LeftSemi"), p.take(2000))
  }

  test("AQE coalesces the small shuffle at tiny SF (fewer tasks than shuffle.partitions)") {
    val df = q("agg_basic")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"AQE did not coalesce the tiny shuffle:\n${p.take(2000)}")
  }

  test("the zonal kernel stays inside whole-stage codegen") {
    // AQE shows codegen markers only once the final plan exists — execute
    val df = q("zonal_stats_basic")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no WholeStageCodegen span in:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), "rasterize not a broadcast hash join")
  }

  test("join_bucketed: bucketed tables sort-merge join with no exchange below") {
    // the registry query lets Catalyst pick (at tiny SF it broadcasts —
    // also exchange-free); the scale claim is the merge-hinted shape:
    // bucketed large⋈large joins with ZERO shuffle
    val (to, tc) = graft.rel.Bucketed.ensure(spark, sf)
    val o = spark.table(to)
    val c = spark.table(tc)
    val j = o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment").count()
    val smjs = j.queryExecution.sparkPlan.collect {
      case x: org.apache.spark.sql.execution.joins.SortMergeJoinExec => x
    }
    assert(smjs.nonEmpty, s"expected a SortMergeJoin:\n${j.queryExecution.sparkPlan}")
    val shufflesBelow = smjs.flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    })
    assert(shufflesBelow.isEmpty,
      s"bucketed join still shuffles:\n${j.queryExecution.sparkPlan}")
    assert(q("join_bucketed").count() == 5)
  }

  test("topk_native: two-phase TopKPerGroupExec around an exchange, matches the window spelling") {
    val df = q("topk_native")
    df.collect()
    // AQE hides the live plan from collect() — assert on the rendering
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
      s"expected partial+final TopKPerGroup nodes in:\n${p.take(2000)}")
    assert(p.contains("Exchange") || p.contains("ShuffleQueryStage"),
      s"no exchange between partial and final topk:\n${p.take(2000)}")
    assert(!p.contains("Window"), "native topk must not fall back to a window")
    // result equivalence with the window-rank formulation
    val viaWindow = q("topk_per_group").select("o_custkey", "o_orderkey", "o_totalprice")
    val native = df.select("o_custkey", "o_orderkey", "o_totalprice")
    assert(native.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(native).isEmpty)
  }

  test("topk_rewrite: the optimizer rule replaces Window+Filter with native TopK") {
    val df = q("topk_rewrite")
    df.collect()
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case t: graft.plans.TopKPerGroupPlan => t }.nonEmpty,
      s"rewrite rule did not fire:\n$opt")
    assert(opt.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty,
      s"window survived the rewrite:\n$opt")
    val viaWindow = q("topk_per_group").select("o_custkey", "o_orderkey", "o_totalprice")
    assert(df.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(df).isEmpty)
  }

  test("the rewrite rule is part of every graft session, not of the ids that ran before") {
    // built first in a fresh session: no topk id has run in it
    val opt = SparkEntry.queries("pipeline_dedup_keep_best")(spark.newSession(), sf)
      .queryExecution.optimizedPlan
    assert(opt.collect { case t: graft.plans.TopKPerGroupPlan => t }.nonEmpty,
      s"rewrite rule did not fire in a fresh session:\n$opt")
  }

  test("TopKPerGroup edges: k ≥ group size and null order values match the window form") {
    import spark.implicits._
    val data = Seq((1, Option(5)), (1, Option.empty[Int]), (1, Option(3)),
      (2, Option.empty[Int]), (3, Option(7))).toDF("g", "x")
    def viaWin(k: Int) = {
      val w = Window.partitionBy("g").orderBy(col("x").asc)
      data.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
    }
    Seq(1, 2, 10).foreach { k =>
      val native = graft.plans.TopK.topKPerGroup(data, Seq("g"), Seq(("x", true)), k)
      assert(native.exceptAll(viaWin(k)).isEmpty && viaWin(k).exceptAll(native).isEmpty,
        s"mismatch at k=$k")
    }
  }

  test("TopKRewriteRule guards: rank kept → no rewrite; rk=1 and rk<=0 handled") {
    import spark.implicits._
    val data = Seq((1, 10), (1, 20), (1, 30), (2, 5)).toDF("g", "v")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("g"))
    def ranked = data.withColumn("rk", row_number().over(w))
    def topkPlans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case t: graft.plans.TopKPerGroupPlan => t }
    // rank column kept in the output → the window must survive
    val kept = ranked.filter(col("rk") <= 2)
    assert(topkPlans(kept).isEmpty, "rewrite fired although the rank is materialized")
    assert(kept.count() == 3)
    // rk = 1 → top-1 rewrite
    val eq1 = ranked.filter(col("rk") === 1).drop("rk")
    assert(topkPlans(eq1).nonEmpty, "rk=1 did not rewrite")
    assert(eq1.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == Set((1, 30), (2, 5)))
    // rk <= 0 → statically empty
    val none = ranked.filter(col("rk") <= 0).drop("rk")
    assert(none.count() == 0)
    // rk < Int.MinValue must be statically empty, not wrap to top-MaxValue
    val wrap = ranked.filter(col("rk") < Int.MinValue).drop("rk")
    assert(topkPlans(wrap).isEmpty && wrap.count() == 0,
      "rk < Int.MinValue wrapped instead of planning empty")
  }

  test("TopK global (no group keys): AllTuples plan, native and rewrite match sort+limit") {
    import spark.implicits._
    val data = Seq((1, 10), (2, 40), (3, 20), (4, 30), (5, 25)).toDF("id", "v")
    val expected = data.orderBy(col("v").desc, col("id")).limit(2)
    // direct API with empty group list
    val native = graft.plans.TopK.topKPerGroup(data, Nil, Seq(("v", false), ("id", true)), 2)
    assert(native.exceptAll(expected).isEmpty && expected.exceptAll(native).isEmpty)
    // user SQL spelling: global row_number with the rank dropped — the
    // rule fires with part=Nil and the plan must not crash at planning
    val w = Window.orderBy(col("v").desc, col("id"))
    val viaSql = data.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2).drop("rk")
    assert(viaSql.queryExecution.optimizedPlan
      .collect { case t: graft.plans.TopKPerGroupPlan => t }.nonEmpty, "global rewrite did not fire")
    assert(viaSql.exceptAll(expected).isEmpty && expected.exceptAll(viaSql).isEmpty)
  }

  test("TopK partial-phase row budget: overflow flushes, never wrong and never OOM-shaped") {
    import spark.implicits._
    // adversarial shape: every row its own group → retained rows would
    // equal input size without the budget
    val n = 5000
    val data = (1 to n).map(i => (i % 997, i)).toDF("g", "x")
    val w = Window.partitionBy("g").orderBy(col("x").asc)
    val viaWin = data.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
    val prev = spark.conf.getOption("spark.graft.topk.maxRowsInMemory")
    spark.conf.set("spark.graft.topk.maxRowsInMemory", "16")
    try {
      val native = graft.plans.TopK.topKPerGroup(data, Seq("g"), Seq(("x", true)), 3)
      assert(native.exceptAll(viaWin).isEmpty && viaWin.exceptAll(native).isEmpty,
        "budget-flushed partial phase changed the result")
    } finally {
      prev.fold(spark.conf.unset("spark.graft.topk.maxRowsInMemory"))(
        v => spark.conf.set("spark.graft.topk.maxRowsInMemory", v))
    }
  }

  test("near-dup ops: candidate generation is a bucketed equi-join, no unblocked self-join") {
    // every join in the pair-producing plans must be an EQUI-join (hash/
    // sort-merge — never nested-loop or cartesian), and the candidate
    // join must be keyed by the LSH signature, not just the label block
    def joins(name: String) = {
      val df = q(name)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name still contains a non-equi join:\n${p.take(3000)}")
      p
    }
    // the near-pair consumers (dedup_embedding at tau 0.3,
    // sim_pairs_threshold at 0.35): the candidate join is keyed by the
    // sign-band signature
    for (name <- Seq("dedup_embedding", "sim_pairs_threshold")) {
      val p = joins(name)
      assert(p.contains("sig#") && p.contains("band#"),
        s"$name near-pair generation is not the banded equi-join:\n${p.take(3000)}")
    }
    // ngram path: candidates come from the minhash band buckets
    val p = joins("dedup_ngram_jaccard")
    assert(p.contains("bh#"), s"ngram candidates not keyed by minhash band:\n${p.take(3000)}")
    // band join: |x−y| ≤ δ planned as a bucket equi-join, not NLJ
    val pb = joins("join_band")
    assert(pb.contains("bucket#"), s"band join not keyed by the δ-bucket:\n${pb.take(3000)}")
    // containment: pairing is the gram inverted-index equi-join
    val pc = joins("dedup_containment")
    assert(pc.contains("gram#"), s"containment pairs not keyed by the gram:\n${pc.take(3000)}")
  }

  test("ANN family: native TopK ranks the searches; IVF assignment has no window; LSH is one projection") {
    // every brute-force / search top-k routes through the bounded-heap
    // operator — the window only ranks the ≤k survivors per probe
    Seq("sim_cosine_topk", "sim_ann_lsh_search", "sim_ann_ivf_search",
        "sim_pq_search", "sim_ann_ivfpq_search").foreach { n =>
      val df = q(n)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
        s"$n does not route through the native TopK operator:\n${p.take(3000)}")
    }
    // centroid assignment is a per-row argmax projection: no Window
    // exchange over the corpus×nlist expansion anywhere in the plan
    val ivf = q("sim_ann_ivf")
    ivf.collect()
    val pIvf = ivf.queryExecution.executedPlan.toString
    assert(!pIvf.contains("Window"),
      s"sim_ann_ivf still assigns centroids through a window:\n${pIvf.take(3000)}")
    // lsh buckets come from one codegen'd projection: no Generate
    // (posexplode) and no join against a plane table
    val lsh = q("sim_ann_lsh")
    lsh.collect()
    val pLsh = lsh.queryExecution.executedPlan.toString
    assert(!pLsh.contains("Generate") && !pLsh.contains("Join"),
      s"sim_ann_lsh still expands rows / joins planes:\n${pLsh.take(3000)}")
  }

  test("r18 DSv2 zarr source: pushed filters prune chunks, zero scan shuffle, pruned decode reads no bytes") {
    import org.apache.spark.sql.functions.col
    val dir = graft.zonal.Zarr.fixture3dDir()
    val df = spark.read.format("graft.zonal.ZarrSource").load(dir)
      .filter(col("cell_x").between(10, 40) && col("cell_y").between(5, 35)
        && col("epoch") >= 2)
    val got = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 31 * 31 * 3)
    assert(got((10, 5, 2)) == graft.zonal.Zarr.zarr3dValue(10, 5, 2))
    assert(got((40, 35, 4)) == graft.zonal.Zarr.zarr3dValue(40, 35, 4))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), s"not a DSv2 scan:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"DSv2 zarr scan grew a shuffle:\n${p.take(2000)}")
    // planning pruned the 3x3x3 chunk grid to 2x2x2 overlapping chunks
    assert(plannedChunks(df) == 8,
      s"expected 8 pruned chunks, got ${plannedChunks(df)}")
    val full = spark.read.format("graft.zonal.ZarrSource").load(dir)
    assert(plannedChunks(full) == 27)
    assert(full.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism,
      "27 chunks pack into at most defaultParallelism partitions")
    assert(full.count() ==
      graft.zonal.Zarr.Zarr3T.toLong * graft.zonal.Zarr.ZarrH * graft.zonal.Zarr.ZarrW)
    // pruned decode reads ZERO chunk bytes: corrupt one chunk of a small
    // store — count(*) stays exact, a value read fails loudly
    val small = java.nio.file.Files.createTempDirectory("zdsv2").toString
    graft.zonal.Zarr.writeZarr(s"$small/v", 8, 8, 8, 8, compressor = "zlib")(
      (x, y) => (x + y).toDouble)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$small/v/0.0"),
      Array[Byte](1, 2, 3))
    val sm = spark.read.format("graft.zonal.ZarrSource").load(s"$small/v")
    assert(sm.count() == 64, "count(*) must come from chunk geometry, not bytes")
    assert(sm.select("cell_x", "cell_y").collect().length == 64,
      "positions-only projection must not decode the chunk")
    intercept[Exception](sm.select("value").collect())
    // a rank-2 store carries no epoch column
    assert(!sm.schema.fieldNames.contains("epoch")
      && sm.schema.fieldNames.toSeq == Seq("cell_x", "cell_y", "value"))
  }

  test("packed partitions: a corrupt chunk packed with clean ones keeps count(*) exact, fails a value read") {
    import org.apache.spark.sql.functions.col
    // 16x16 at 4x4 = 16 chunks, more than the session's parallelism, so
    // the corrupt chunk 0.0 shares its packed partition with clean ones
    val dir = java.nio.file.Files.createTempDirectory("zpack").toString
    graft.zonal.Zarr.writeZarr(s"$dir/v", 16, 16, 4, 4, compressor = "zlib")(
      (x, y) => (x + y).toDouble)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/v/0.0"), Array[Byte](1, 2, 3))
    val sm = spark.read.format("graft.zonal.ZarrSource").load(s"$dir/v")
    val parts = sm.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.get
    assert(plannedChunks(parts) == 16)
    assert(parts.length <= spark.sparkContext.defaultParallelism)
    val mates = parts.collectFirst {
      case p: graft.zonal.PackedPartition if p.chunks.exists {
        case z: graft.zonal.Zarr2InputPartition => z.ref.ci == 0 && z.ref.cj == 0
        case _ => false
      } => p.chunks.length
    }
    assert(mates.exists(_ > 1), s"chunk 0.0 must share its partition: $mates")
    assert(sm.count() == 256)
    assert(sm.filter(col("cell_x") >= 0).count() == 256,
      "a geometry count over packed partitions must not decode the corrupt chunk")
    assert(sm.select("cell_x", "cell_y").collect().length == 256)
    intercept[Exception](sm.select("value").collect())
    // its clean partition-mate still decodes on its own
    assert(sm.filter(col("cell_y") < 4 && col("cell_x").between(4, 7))
      .select("value").collect().length == 16)
  }

  test("r18 DSv2 hdf5 source: 4-axis chunk pruning, zero scan shuffle, pruned decode reads no bytes") {
    import org.apache.spark.sql.functions.col
    // rank-3: 3x3x3 chunk grid pruned to 2x2x2 by the pushed window
    val df = spark.read.format("graft.zonal.Hdf5Source").option("var", "v")
      .load(graft.zonal.Hdf5.fixtureCubePath())
      .filter(col("cell_x").between(10, 40) && col("cell_y").between(5, 35)
        && col("epoch") >= 2)
    val got = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 31 * 31 * 3)
    assert(got((10, 5, 2)) == graft.zonal.Hdf5.h5CubeValue(10, 5, 2))
    assert(got((40, 35, 4)) == graft.zonal.Hdf5.h5CubeValue(40, 35, 4))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), s"not a DSv2 scan:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"DSv2 hdf5 scan grew a shuffle:\n${p.take(2000)}")
    assert(plannedChunks(df) == 8,
      s"expected 8 pruned chunks, got ${plannedChunks(df)}")
    // rank-4: level + epoch prune their chunk axes too (2x2x3x3 grid →
    // level=1 keeps 1 of 2 level-chunks, x window 2 of 3 → 12)
    val d4 = spark.read.format("graft.zonal.Hdf5Source").option("var", "v")
      .load(graft.zonal.Hdf5.fixtureCube4dPath())
    assert(d4.schema.fieldNames.toSeq ==
      Seq("cell_x", "cell_y", "level", "epoch", "value"))
    assert(plannedChunks(d4) == 36)
    assert(d4.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism,
      "36 chunks pack into at most defaultParallelism partitions")
    val w4 = d4.filter(col("cell_x").between(16, 47) && col("level") === 1
      && col("epoch") >= 1)
    assert(plannedChunks(w4) == 12,
      s"expected 12 pruned chunks, got ${plannedChunks(w4)}")
    assert(w4.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> r.getDouble(4))
      .toMap.apply((16, 0, 1, 2)) == graft.zonal.Hdf5.h5Cube4dValue(16, 0, 1, 2))
    // pruned decode reads ZERO chunk bytes: corrupt one chunk of a
    // small file — count(*) stays exact, a value read fails loudly
    val dir = java.nio.file.Files.createTempDirectory("h5dsv2").toString
    val small = s"$dir/c.nc"
    graft.zonal.Hdf5.writeHdf5(small, "v", 8, 8, 8, 8)((x, y) => (x + y).toDouble)
    val addr = graft.zonal.Hdf5.readMeta(small, "v").chunks.head._5
    val raf = new java.io.RandomAccessFile(small, "rw")
    try { raf.seek(addr); raf.write(Array[Byte](9, 9, 9, 9, 9, 9)) } finally raf.close()
    val sm = spark.read.format("graft.zonal.Hdf5Source").option("var", "v").load(small)
    assert(sm.count() == 64, "count(*) must come from chunk geometry, not bytes")
    assert(sm.select("cell_x", "cell_y").collect().length == 64,
      "positions-only projection must not decode the chunk")
    intercept[Exception](sm.select("value").collect())
    // a rank-2 dataset carries neither epoch nor level
    assert(sm.schema.fieldNames.toSeq == Seq("cell_x", "cell_y", "value"))
    // CF time option: the pushed TIMESTAMP window prunes per-epoch
    // stripe sets of the contiguous cube — epochs 1..3 of 5 survive
    val tdf = spark.read.format("graft.zonal.Hdf5Source")
      .option("var", "v").option("time", "t")
      .load(graft.zonal.Hdf5.fixtureTimePath())
    assert(tdf.schema.fieldNames.toSeq ==
      Seq("cell_x", "cell_y", "epoch", "t_ts", "value"))
    val nT = plannedChunks(tdf)
    assert(nT % graft.zonal.Hdf5.H5T == 0)
    val tw = tdf.filter(col("t_ts").between(
      org.apache.spark.sql.functions.lit("2020-03-01 16:00:00").cast("timestamp"),
      org.apache.spark.sql.functions.lit("2020-03-02 06:00:00").cast("timestamp")))
    assert(plannedChunks(tw) == nT / graft.zonal.Hdf5.H5T * 3,
      s"timestamp window must prune per-epoch stripe sets: $nT → ${plannedChunks(tw)}")
    assert(tw.select("epoch").distinct().collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
  }

  test("r18 DSv2 count(*) pushdown: one metadata row, zero chunk partitions, filters disable it") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // a bare count over each source plans ONE partition (the
    // MetaCountScan), not one per chunk/stripe/tile
    val zarr = spark.read.format("graft.zonal.ZarrSource")
      .load(graft.zonal.Zarr.fixture3dDir())
    val zc = zarr.agg(count(lit(1)).as("n"))
    assert(zc.queryExecution.executedPlan.toString.contains("graft-meta-count"),
      s"count(*) must push down:\n${zc.queryExecution.executedPlan.toString.take(2000)}")
    assert(zc.rdd.getNumPartitions == 1)
    assert(zc.head().getLong(0) ==
      graft.zonal.Zarr.Zarr3T.toLong * graft.zonal.Zarr.ZarrH * graft.zonal.Zarr.ZarrW)
    // the pushed count never touches data: a store with a CORRUPT
    // chunk still counts exactly
    val dir = java.nio.file.Files.createTempDirectory("zcnt").toString
    graft.zonal.Zarr.writeZarr(s"$dir/v", 8, 8, 8, 8, compressor = "zlib")(
      (x, y) => (x + y).toDouble)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/v/0.0"),
      Array[Byte](1, 2, 3))
    val sm = spark.read.format("graft.zonal.ZarrSource").load(s"$dir/v")
    assert(sm.agg(count(lit(1))).head().getLong(0) == 64)
    // with ANY filter the aggregation must NOT push (the residual
    // filter forbids it) — the geometry path still answers exactly
    val filtered = zarr.filter(col("epoch") >= 2).agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("graft-meta-count"))
    assert(filtered.head().getLong(0) ==
      3L * graft.zonal.Zarr.ZarrH * graft.zonal.Zarr.ZarrW)
    // group-by never pushes
    val grouped = zarr.groupBy("epoch").agg(count(lit(1)).as("n"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("graft-meta-count"))
    assert(grouped.collect().length == graft.zonal.Zarr.Zarr3T)
    // the other three sources push the same way
    for ((label, df) <- Seq(
        "hdf5" -> spark.read.format("graft.zonal.Hdf5Source")
          .option("var", "v").load(graft.zonal.Hdf5.fixtureCubePath()),
        "netcdf" -> spark.read.format("graft.zonal.NetcdfSource")
          .option("var", "t2m").load(graft.zonal.Netcdf.epochsFixturePath()),
        "tiff" -> spark.read.format("graft.zonal.TiffSource")
          .load(graft.zonal.Raster.fixturePath()))) {
      val c = df.agg(count(lit(1)).as("n"))
      assert(c.queryExecution.executedPlan.toString.contains("graft-meta-count"),
        s"$label count(*) must push down")
      assert(c.rdd.getNumPartitions == 1, label)
    }
  }

  test("r18 DSv2 limit + runtime filtering: limit plans a chunk prefix, DPP re-prunes at runtime") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val cube = spark.read.format("graft.zonal.ZarrSource")
      .load(graft.zonal.Zarr.fixture3dDir())
    // LIMIT pushdown: geometry-exact prefix — 100 cells fit in the
    // first 2x32x32 chunk, so ONE partition plans (of 27); the final
    // LocalLimit still trims to exactly 100
    val lim = cube.limit(100)
    val limPlan = lim.queryExecution.executedPlan.toString
    assert(lim.count() == 100)
    val sc = lim.queryExecution.executedPlan.collectLeaves()
      .find(_.toString.contains("BatchScan"))
    assert(sc.isDefined, limPlan.take(1000))
    assert(cube.limit(100).select("cell_x").collect().length == 100)
    // partitions: rdd materializes the pushed-limit scan
    assert(plannedChunks(spark.read.format("graft.zonal.ZarrSource")
      .load(graft.zonal.Zarr.fixture3dDir()).limit(100)) <= 2,
      "LIMIT 100 must plan a chunk prefix, not all 27 chunks")
    // RUNTIME filtering contract, pinned directly on the Scan: an
    // In(epoch, ...) arriving after planning re-prunes the manifest
    val b = new graft.zonal.ZarrScanBuilder(graft.zonal.Zarr.fixture3dDir())
    val scan = b.build().asInstanceOf[graft.zonal.ZarrScan]
    assert(plannedChunks(scan.planInputPartitions()) == 27)
    assert(scan.filterAttributes().map(_.describe()).toSet ==
      Set("cell_x", "cell_y", "epoch"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("epoch", Array(4))))
    // epoch 4 lives in the last t-chunk [4,5) → 1x3x3 = 9 partitions
    assert(plannedChunks(scan.planInputPartitions()) == 9,
      s"runtime epoch filter must re-prune: got ${plannedChunks(scan.planInputPartitions())}")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("cell_x", 40)))
    // x=40 lives in x-chunk [32,64) → 1x3x1 = 3
    assert(plannedChunks(scan.planInputPartitions()) == 3)
    // end-to-end: a broadcast join on epoch with DPP enabled stays
    // exact whether or not the optimizer injects the runtime filter
    val dim = spark.range(0, 5).toDF("e").filter(col("e") % 2 === 1)
      .select(col("e").cast("int").as("epoch"))
    val j = cube.join(dim, Seq("epoch")).agg(count(lit(1)).as("n"))
    assert(j.head().getLong(0) ==
      2L * graft.zonal.Zarr.ZarrH * graft.zonal.Zarr.ZarrW)
    // the other three sources honor the same contracts
    // hdf5: 27-chunk cube — epoch EqualTo(4) keeps the edge t-chunk row
    val hb = new graft.zonal.Hdf5ScanBuilder(
      graft.zonal.Hdf5.fixtureCubePath(), "v")
    val hs = hb.build().asInstanceOf[graft.zonal.Hdf5Scan]
    assert(plannedChunks(hs.planInputPartitions()) == 27)
    hs.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("epoch", 4)))
    assert(plannedChunks(hs.planInputPartitions()) == 9)
    // netcdf: per-epoch stripe sets — epoch In(Seq(0)) keeps 1 of 3 sets
    val nb = new graft.zonal.NetcdfScanBuilder(graft.zonal.NetcdfSource.resolve(
      graft.zonal.Netcdf.epochsFixturePath(), "t2m", null, null))
    val ns = nb.build().asInstanceOf[graft.zonal.NetcdfScan]
    val nAll = plannedChunks(ns.planInputPartitions())
    ns.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("epoch", Array(0))))
    assert(plannedChunks(ns.planInputPartitions()) * graft.zonal.Netcdf.NcEpochs == nAll)
    // tiff planar: band EqualTo(0) halves the block set at runtime
    val tb = new graft.zonal.TiffScanBuilder(graft.zonal.Raster.planarFixturePath())
    val ts = tb.build().asInstanceOf[graft.zonal.TiffScan]
    assert(plannedChunks(ts.planInputPartitions()) == 8)
    ts.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("band", 0)))
    assert(plannedChunks(ts.planInputPartitions()) == 4)
    // STATIC IN-list pushdown: epoch IN (0, 4) is non-contiguous — a
    // min/max window keeps all 3 t-chunks, the set prunes to 2 (18)
    val inDf = cube.filter(col("epoch").isin(0, 4))
    assert(plannedChunks(inDf) == 18,
      s"static IN must prune t-chunks: got ${plannedChunks(inDf)}")
    assert(inDf.select("epoch").distinct().collect().map(_.getInt(0)).toSet
      == Set(0, 4))
    // limit prefixes on the other sources: a small limit plans few
    // partitions and still returns exactly n rows
    for ((label, df) <- Seq(
        "hdf5" -> spark.read.format("graft.zonal.Hdf5Source")
          .option("var", "v").load(graft.zonal.Hdf5.fixtureCubePath()),
        "netcdf" -> spark.read.format("graft.zonal.NetcdfSource")
          .option("var", "t2m").load(graft.zonal.Netcdf.epochsFixturePath()),
        "tiff" -> spark.read.format("graft.zonal.TiffSource")
          .load(graft.zonal.Raster.fixturePath()))) {
      val lim = df.limit(50)
      assert(plannedChunks(lim) <= 2, s"$label LIMIT must plan a prefix")
      assert(lim.count() == 50, label)
    }
  }

  test("r19 SQL DDL over the DSv2 face: catalog-path SELECT still pushes filters and prunes chunks") {
    spark.sql("DROP TABLE IF EXISTS graft_cube_ddl")
    spark.sql(s"""CREATE TABLE graft_cube_ddl
                 |USING graft.zonal.ZarrSource
                 |OPTIONS (path '${graft.zonal.Zarr.fixture3dDir()}')""".stripMargin)
    val q = spark.sql("""SELECT cell_x, cell_y, epoch, value FROM graft_cube_ddl
                        |WHERE cell_x BETWEEN 8 AND 40 AND cell_y >= 35 AND epoch = 2""".stripMargin)
    // pushdown fires through the catalog route: the scan description
    // carries the clamped window, and the chunk manifest prunes —
    // x in [8,40] -> 2 of 3, y >= 35 -> 2 of 3, epoch 2 -> 1 of 3 => 4
    val scanDesc = q.queryExecution.executedPlan.collectLeaves().mkString
    assert(scanDesc.contains("graft-zarr"), scanDesc.take(500))
    assert(plannedChunks(q) == 4,
      s"catalog-path window must prune 4 of 27 chunks, got ${plannedChunks(q)}")
    assert(q.count() == 33L * 35)
    val pushed = q.queryExecution.optimizedPlan.toString
    assert(pushed.contains("PushedFilters") || scanDesc.contains("window=[8..40]"),
      "pushed window not visible in the plan")
    spark.sql("DROP TABLE graft_cube_ddl")
  }

  test("r19 MIN/MAX aggregate pushdown: the mosaic sidecar answers without opening one data file") {
    import org.apache.spark.sql.functions.{col, min, max}
    // hand-built mosaic: 2 tiles + exact sidecar, then one tile's bytes
    // POISONED — the pushed min/max must still answer (zero data reads),
    // while a real scan over the same mosaic fails loudly
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/minmax_poison_mosaic"
    graft.core.Fs.rmTree(dir)
    graft.zonal.Raster.writeTiff(s"$dir/a.tif", 16, 16, 16, 16)((x, y) => (x + y).toDouble)
    graft.zonal.Raster.writeTiff(s"$dir/b.tif", 16, 16, 16, 16)((x, y) => (100 + x + y).toDouble)
    graft.zonal.Raster.writeStatsManifest(dir, Seq(
      graft.zonal.Raster.TileStats("a.tif", 0, 0, 0.0, 30.0),
      graft.zonal.Raster.TileStats("b.tif", 16, 0, 100.0, 130.0)))
    // poison tile b's data region (keep the header: readMeta still works)
    val raf = new java.io.RandomAccessFile(s"$dir/b.tif", "rw")
    try { raf.seek(raf.length() - 64); raf.write(Array.fill(32)(0x7f.toByte)) }
    finally raf.close()
    val mosaic = spark.read.format("graft.zonal.TiffSource").load(dir)
    val agg = mosaic.agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    assert(agg.queryExecution.executedPlan.toString.contains("graft-meta-row"),
      agg.queryExecution.executedPlan.toString.take(800))
    val r = agg.head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 130.0, r.toString)
    // fallback posture: a filtered aggregate must NOT push down...
    val filtered = mosaic.filter(col("cell_x") < 8).agg(min(col("value")))
    assert(!filtered.queryExecution.executedPlan.toString.contains("graft-meta-row"))
    // ...and the real scan touches data bytes, so the poison surfaces
    intercept[Throwable](mosaic.agg(org.apache.spark.sql.functions.sum("value")).head())
  }

  test("r19 DSv2 composed selection: sel(time, x, y) and rank-4 windows prune the chunk manifest") {
    import org.apache.spark.sql.functions.{col, lit}
    // rank-3 + coords + time in ONE scan: x_coord [-115,-105] -> x in
    // [20,60] -> 2 of 3 x-chunks; y_coord >= 50 -> y >= 40 -> 2 of 3;
    // t_ts <= 16:00 keeps epochs {0,1} -> 1 of 3 t-chunks => 4 of 27
    val sel3 = spark.read.format("graft.zonal.ZarrSource")
      .option("coords", "x,y").option("time", "t")
      .load(s"${graft.zonal.Zarr.fixtureSel3Dir()}/v")
      .filter(col("x_coord").between(-115.0, -105.0)
        && col("y_coord") >= 50.0
        && col("t_ts") <= lit("2020-03-01 16:00:00").cast("timestamp"))
    assert(plannedChunks(sel3) == 4,
      s"zarr sel3 must plan 4 of 27 chunks, got ${plannedChunks(sel3)}")
    assert(sel3.count() == 41L * 30 * 2, sel3.count().toString)
    // hdf5 twin: the sel3 fixture's cube is CONTIGUOUS (row stripes
    // span the width), so the y window and the time window prune while
    // the x window stays residual — pruned strictly below the full plan
    val h5All = spark.read.format("graft.zonal.Hdf5Source")
      .option("var", "v").option("coords", "x,y").option("time", "t")
      .load(graft.zonal.Hdf5.fixtureSel3Path())
    val h5 = h5All
      .filter(col("x_coord").between(-115.0, -105.0)
        && col("y_coord") >= 50.0
        && col("t_ts") <= lit("2020-03-01 16:00:00").cast("timestamp"))
    val (h5N, h5AllN) = (plannedChunks(h5), plannedChunks(h5All))
    assert(h5N < h5AllN && h5N >= 1,
      s"hdf5 sel3 must prune the stripe manifest: $h5N of $h5AllN")
    assert(h5.count() == 41L * 30 * 2)
    // rank-4 through the DSv2 face (r18 refusal retired): level = 2 ->
    // 1 of 2 l-chunks, epoch [1,2] -> both t-chunks, cell_x < 40 -> 2
    // of 3 x-chunks => 2*1*3*2 = 12 of 36; count = 40*70*1*2
    val c4 = spark.read.format("graft.zonal.ZarrSource")
      .load(graft.zonal.Zarr.fixture4dDir())
      .filter(col("level") === 2 && col("epoch").between(1, 2) && col("cell_x") < 40)
    assert(plannedChunks(c4) == 12,
      s"zarr 4d window must plan 12 of 36 chunks, got ${plannedChunks(c4)}")
    assert(c4.count() == 40L * 70 * 2)
    // rank-4 count(*) answers from metadata: w*h*levels*epochs
    val cnt = spark.read.format("graft.zonal.ZarrSource")
      .load(graft.zonal.Zarr.fixture4dDir())
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("graft-meta-count"))
    assert(cnt.head().getLong(0) ==
      80L * 70 * graft.zonal.Zarr.Zarr4L * graft.zonal.Zarr.Zarr4T)
  }

  test("r18 DSv2 sharded-store + zonal end-use: epoch pushdown prunes shards, rasterize broadcasts") {
    import org.apache.spark.sql.functions.col
    // the sharded v3 cube reads through the DSv2 face; the epoch
    // equality prunes shard columns at planning time (shard grid
    // 3x3x3 on chunkT=2 → epoch 2 keeps the middle t-shard: 9)
    val sh = spark.read.format("graft.zonal.ZarrSource")
      .load(graft.zonal.Zarr.fixtureSharded3dDir())
    assert(plannedChunks(sh) == 27)
    assert(sh.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    val e2 = sh.filter(col("epoch") === 2)
    assert(plannedChunks(e2) == 9,
      s"epoch pushdown must prune shard columns: got ${plannedChunks(e2)}")
    assert(e2.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3))
      .toMap.apply((10, 5)) == graft.zonal.Zarr.zarr3dValue(10, 5, 2))
    // zonal-over-DSv2: the whole stack stays one declarative plan —
    // broadcast rasterize, no sort-merge join, no extra exchange
    // before the aggregation's own shuffle
    val p = q("zonal_source_stats").queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("r18 temporal staples: resample is one hash agg, rolling is one cell-keyed exchange") {
    // monthly resample: partial aggregation before the single shuffle,
    // no window, no join anywhere
    val pr = plan("cube_resample_monthly")
    assert(pr.contains("partial_"), s"resample must partial-aggregate:\n${pr.take(2000)}")
    // the only join is the mf scan's broadcast LABEL join; the resample
    // itself adds no window and no shuffle join
    assert(!pr.contains("Window") && !pr.contains("SortMergeJoin"), pr.take(2000))
    // rolling mean: exactly one data exchange (the cell hash), the
    // window sorts within partitions
    val pw = plan("cube_rolling_mean")
    assert(pw.contains("Window"), pw.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(pw).length
    assert(exchanges == 1,
      s"rolling mean must shuffle ONCE on the cell key, got $exchanges:\n${pw.take(2000)}")
  }

  test("r18 DSv2 label selection: coordinate-value pushdown inverts to index windows and prunes chunks") {
    import org.apache.spark.sql.functions.col
    val arr = s"${graft.zonal.Zarr.fixtureCoordsDir()}/precip"
    val df = spark.read.format("graft.zonal.ZarrSource").option("coords", "x,y")
      .load(arr)
    assert(df.schema.fieldNames.toSeq ==
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value"))
    assert(plannedChunks(df) == 9)
    // sel(x=[-115,-105], y>=50): x index [20,60] → 2 of 3 x-chunks,
    // y index [40,69] → 2 of 3 y-chunks → 4 planned partitions
    val sel = df.filter(col("x_coord").between(-115.0, -105.0)
      && col("y_coord") >= 50.0)
    assert(plannedChunks(sel) == 4,
      s"label window must prune chunks: 9 → ${plannedChunks(sel)}")
    val got = sel.collect()
    assert(got.length == 41 * 30, got.length) // x 20..60, y 40..69
    assert(got.forall(r => r.getDouble(2) >= -115.0 && r.getDouble(2) <= -105.0
      && r.getDouble(3) >= 50.0))
    assert(!sel.queryExecution.executedPlan.toString.contains("Exchange"))
    // an empty label window plans ZERO chunks
    assert(plannedChunks(df.filter(col("x_coord") > 1e9)) == 0)
    // classic twin: the y label window prunes STRIPES (x stays
    // residual — row-major stripes span the width)
    val nc = spark.read.format("graft.zonal.NetcdfSource")
      .option("var", "t2m").option("coords", "x,y")
      .load(graft.zonal.Netcdf.coordsFixturePath())
    assert(nc.schema.fieldNames.toSeq ==
      Seq("cell_x", "cell_y", "x_coord", "y_coord", "value"))
    val nFullNc = plannedChunks(nc)
    val selNc = nc.filter(col("y_coord") >= 50.0) // y index >= 40 of 70
    assert(plannedChunks(selNc) < nFullNc,
      s"y label window must prune stripes: $nFullNc → ${plannedChunks(selNc)}")
    val gotNc = selNc.collect()
    assert(gotNc.length == 80 * 30)
    assert(gotNc.forall(_.getDouble(3) >= 50.0))
    // hdf5 twin: the coords fixture's v is one contiguous stripe, so
    // the pin here is label-VALUE exactness plus the inversion (an
    // empty label window plans zero chunks — proof the index windows
    // reach the manifest; chunk-granular pruning itself is pinned on
    // the zarr face above, same code path via valueWindowToIndex)
    val h5 = spark.read.format("graft.zonal.Hdf5Source")
      .option("var", "v").option("coords", "x,y")
      .load(graft.zonal.Hdf5.fixtureCoordsPath())
    val selH5 = h5.filter(col("x_coord").between(-115.0, -105.0)
      && col("y_coord") >= 50.0)
    assert(selH5.count() == 41L * 30)
    assert(plannedChunks(h5.filter(col("y_coord") > 1e9)) == 0,
      "an empty hdf5 label window must plan zero chunks")
    // a non-monotonic axis refuses loudly
    val bad = java.nio.file.Files.createTempDirectory("zsel").toString
    graft.zonal.Zarr.writeZarr(s"$bad/v", 4, 4, 4, 4)((x, y) => (x + y).toDouble)
    graft.zonal.Zarr.writeZarrCoord(s"$bad/x", 4, 4)(i => if (i == 2) 0.0 else i.toDouble)
    graft.zonal.Zarr.writeZarrCoord(s"$bad/y", 4, 4)(_.toDouble)
    val e = intercept[Exception](
      spark.read.format("graft.zonal.ZarrSource").option("coords", "x,y")
        .load(s"$bad/v").filter(col("x_coord") >= 1.0).collect())
    assert(e.getMessage.contains("monotonic"), e.getMessage)
  }

  test("r18 DSv2 statistics: geometry-exact numRows, a windowed cube broadcasts against a bigger side") {
    import org.apache.spark.sql.functions.col
    // direct: the scan reports EXACT in-bounds cell counts
    val b = new graft.zonal.ZarrScanBuilder(graft.zonal.Zarr.fixture3dDir())
    b.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("epoch", 2)))
    val st = b.build().asInstanceOf[graft.zonal.ZarrScan].estimateStatistics()
    // epoch 2 keeps t-chunk [2,4): epochs 2 AND 3 in-bounds (chunk
    // granularity — the stat counts what the scan EMITS pre-residual)
    assert(st.numRows().getAsLong ==
      2L * graft.zonal.Zarr.ZarrH * graft.zonal.Zarr.ZarrW, st.numRows())
    assert(st.sizeInBytes().getAsLong == st.numRows().getAsLong * (4 + 4 + 4 + 8))
    val full = new graft.zonal.ZarrScanBuilder(graft.zonal.Zarr.fixture3dDir())
      .build().asInstanceOf[graft.zonal.ZarrScan].estimateStatistics()
    assert(full.numRows().getAsLong ==
      graft.zonal.Zarr.Zarr3T.toLong * graft.zonal.Zarr.ZarrH * graft.zonal.Zarr.ZarrW)
    // end-to-end: a tiny windowed cube scan BROADCASTS against a bigger
    // relation — the decision the statistics enable (a stats-less DSv2
    // scan defaults to "huge" and would shuffle both sides)
    val tiny = spark.read.format("graft.zonal.ZarrSource")
      .load(graft.zonal.Zarr.fixture3dDir())
      .filter(col("cell_x") < 3 && col("cell_y") < 3 && col("epoch") === 0)
    val big = spark.range(0, 200000)
      .select((org.apache.spark.sql.functions.col("id") % 80).cast("int").as("cell_x"),
        org.apache.spark.sql.functions.col("id").as("payload"))
    val j = tiny.join(big, Seq("cell_x"))
    j.collect()
    // AQE hides stages from collect() — assert on the final rendering:
    // the BatchScan must sit INSIDE the broadcast (left/build) subtree,
    // i.e. after the BroadcastExchange and before the Range side
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"windowed cube must broadcast-join:\n${p.take(2000)}")
    val (iBe, iBs, iRg) =
      (p.indexOf("BroadcastExchange"), p.indexOf("BatchScan"), p.indexOf("Range ("))
    assert(iBe >= 0 && iBs > iBe && iRg > iBs,
      s"the CUBE side (BatchScan) must be the broadcast build side:\n${p.take(2000)}")
  }

  test("r18 DSv2 gpkg source: rtree window prunes leaf pages, row-level residual, id lookup prunes by rowid") {
    import org.apache.spark.sql.functions.col
    val path = graft.zonal.Gpkg.fullFixturePath(spark, sf)
    val full = spark.read.format("graft.zonal.GpkgSource")
      .option("table", "zones").load(path)
    val nFull = full.rdd.getNumPartitions
    assert(nFull >= 2, s"fixture should span several leaf pages, got $nFull")
    // envelope window prunes pages through the rtree at planning time
    val w = full.filter(col("x").between(0, 20) && col("y").between(0, 20))
    assert(w.rdd.getNumPartitions < nFull,
      s"rtree window must prune leaf pages: $nFull → ${w.rdd.getNumPartitions}")
    assert(!w.queryExecution.executedPlan.toString.contains("Exchange"))
    // ROW-level semantics: exactly the vertices in the box (the
    // feature-level face readVertsWindow returns whole features — this
    // one must NOT)
    val got = w.collect()
    assert(got.forall(r => r.getInt(4) >= 0 && r.getInt(4) <= 20
      && r.getInt(5) >= 0 && r.getInt(5) <= 20))
    val viaDataset = graft.zonal.Gpkg.readVerts(spark, path, "zones")
      .filter(col("x").between(0, 20) && col("y").between(0, 20))
    assert(got.length == viaDataset.count(),
      "DSv2 row-level result must equal the filtered full read")
    // an INTEGER-PRIMARY-KEY id lookup prunes by rowid range
    val one = full.filter(col("zone_id") === 1)
    assert(one.rdd.getNumPartitions <= math.max(1, nFull - 1),
      s"id lookup should prune pages: $nFull → ${one.rdd.getNumPartitions}")
    assert(one.select("zone_id").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("r18 DSv2 zarr time option: pushed timestamp window prunes chunks, boundary epoch trims residually") {
    import org.apache.spark.sql.functions.{col, lit}
    val tdf = spark.read.format("graft.zonal.ZarrSource").option("time", "t")
      .load(s"${graft.zonal.Zarr.fixtureTimeDir()}/v")
    assert(tdf.schema.fieldNames.toSeq ==
      Seq("cell_x", "cell_y", "epoch", "t_ts", "value"))
    assert(plannedChunks(tdf) == 27)
    // window keeps epochs 1..3; chunkT=2 → t-chunks [0,2) and [2,4)
    // survive, [4,5) prunes → 18 planned partitions; epoch 0 rides in
    // a kept chunk and MUST be trimmed by the residual t_ts filter
    val tw = tdf.filter(col("t_ts").between(
      lit("2020-03-01 16:00:00").cast("timestamp"),
      lit("2020-03-02 06:00:00").cast("timestamp")))
    assert(plannedChunks(tw) == 18,
      s"timestamp window must prune t-chunks: 27 → ${plannedChunks(tw)}")
    val lab = tw.select("epoch", "t_ts").distinct().collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1).toInstant).toMap
    assert(lab.keySet == Set(1, 2, 3), lab.toString)
    assert(lab(1) == java.time.Instant.parse("2020-03-01T16:00:00Z"), lab.toString)
    val got = tw.filter(col("epoch") === 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(4)).toMap
    assert(got((10, 5)) == graft.zonal.Zarr.zarr3dValue(10, 5, 2))
  }

  test("r18 DSv2 netcdf source: stripe pruning on y/epoch/level, zero scan shuffle, decode-free positions") {
    import org.apache.spark.sql.functions.col
    // rank-3 record variable: epoch predicate prunes whole per-epoch
    // stripe sets — exactly (NcEpochs-1)/NcEpochs of the full manifest
    // survives epoch >= 1 (ratio pin: stripe height is a sizing
    // heuristic, the per-epoch stripe count is not)
    val full = spark.read.format("graft.zonal.NetcdfSource").option("var", "t2m")
      .load(graft.zonal.Netcdf.epochsFixturePath())
    val nFull = plannedChunks(full)
    assert(nFull % graft.zonal.Netcdf.NcEpochs == 0)
    val byEpoch = full.filter(col("epoch") >= 1)
    assert(plannedChunks(byEpoch) ==
      nFull / graft.zonal.Netcdf.NcEpochs * (graft.zonal.Netcdf.NcEpochs - 1),
      s"epoch predicate must prune per-epoch stripe sets: $nFull → ${plannedChunks(byEpoch)}")
    // y window prunes within a plane; values exact through the decode
    val w = full.filter(col("cell_y").between(8, 40) && col("epoch") >= 1)
    assert(plannedChunks(w) < plannedChunks(byEpoch))
    val got = w.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(got.size == 80 * 33 * 2)
    assert(got((10, 8, 1)) == graft.zonal.Netcdf.ncEpochValue(10, 8, 1))
    assert(got((79, 40, 2)) == graft.zonal.Netcdf.ncEpochValue(79, 40, 2))
    val p = w.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), s"not a DSv2 scan:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"DSv2 netcdf scan grew a shuffle:\n${p.take(2000)}")
    // rank-4: level equality halves the (t, level) plane set
    val d4 = spark.read.format("graft.zonal.NetcdfSource").option("var", "t2m")
      .load(graft.zonal.Netcdf.cube4dFixturePath())
    assert(d4.schema.fieldNames.toSeq ==
      Seq("cell_x", "cell_y", "level", "epoch", "value"))
    val n4 = plannedChunks(d4)
    assert(plannedChunks(d4.filter(col("level") === 1)) * graft.zonal.Netcdf.Nc4L == n4)
    // decode-free positions: count(*) and positions-only projections
    // read no data bytes — truncate a copy's tail so any value read
    // fails loudly while geometry stays exact
    val dir = java.nio.file.Files.createTempDirectory("ncdsv2").toString
    val small = s"$dir/c.nc"
    graft.zonal.Netcdf.writeNetcdf(small, "v", 8, 8, 6 /* NC_DOUBLE */,
      coordVars = false)((x, y, _) => (x + y).toDouble)
    val len = new java.io.File(small).length()
    val raf = new java.io.RandomAccessFile(small, "rw")
    try raf.setLength(len - 8 * 8 * 4) finally raf.close() // half the cells gone
    val sm = spark.read.format("graft.zonal.NetcdfSource").option("var", "v").load(small)
    assert(sm.count() == 64, "count(*) must come from stripe geometry, not bytes")
    assert(sm.select("cell_x", "cell_y").collect().length == 64,
      "positions-only projection must not read the stripe")
    intercept[Exception](sm.select("value").collect())
    assert(sm.schema.fieldNames.toSeq == Seq("cell_x", "cell_y", "value"))
    // CF time option: a pushed TIMESTAMP window prunes the stripe
    // manifest at planning time — epochs 1..3 of 5 survive
    val tdf = spark.read.format("graft.zonal.NetcdfSource")
      .option("var", "t2m").option("time", "t")
      .load(graft.zonal.Netcdf.timeFixturePath())
    assert(tdf.schema.fieldNames.toSeq ==
      Seq("cell_x", "cell_y", "epoch", "t_ts", "value"))
    val nT = plannedChunks(tdf)
    assert(nT % graft.zonal.Netcdf.NcTimeEpochs == 0)
    val tw = tdf.filter(col("t_ts").between(
      org.apache.spark.sql.functions.lit("2020-03-01 16:00:00").cast("timestamp"),
      org.apache.spark.sql.functions.lit("2020-03-02 06:00:00").cast("timestamp")))
    assert(plannedChunks(tw) == nT / graft.zonal.Netcdf.NcTimeEpochs * 3,
      s"timestamp window must prune per-epoch stripe sets: $nT → ${plannedChunks(tw)}")
    val lab = tw.select("epoch", "t_ts").distinct().collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1).toInstant).toMap
    assert(lab.keySet == Set(1, 2, 3))
    assert(lab(1) == java.time.Instant.parse("2020-03-01T16:00:00Z"), lab.toString)
    assert(lab(3) == java.time.Instant.parse("2020-03-02T06:00:00Z"), lab.toString)
  }

  test("r18 DSv2 tiff multiband: band column infers, planar band predicate prunes blocks") {
    import org.apache.spark.sql.functions.col
    // chunky multiband: band column present, values exact, zero shuffle
    val mb = spark.read.format("graft.zonal.TiffSource")
      .load(graft.zonal.Raster.mbFixturePath())
    assert(mb.schema.fieldNames.toSeq == Seq("cell_x", "cell_y", "band", "value"))
    val got = mb.filter(col("band") === 1).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(got.size == 48 * 40)
    assert(got((7, 9)) == graft.zonal.Raster.mbValue(7, 9, 1))
    // planar: one block per (plane, tile) → a band predicate halves the
    // planned partitions (8 blocks → 4), and the values stay exact
    // through the per-plane predictor-3 decode
    val pl = spark.read.format("graft.zonal.TiffSource")
      .load(graft.zonal.Raster.planarFixturePath())
    assert(plannedChunks(pl) == 8)
    val plB1 = pl.filter(col("band") === 1)
    assert(plannedChunks(plB1) == 4,
      s"planar band predicate must prune blocks, got ${plannedChunks(plB1)}")
    val gotP = plB1.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(gotP.size == 48 * 40 && gotP((7, 9)) == graft.zonal.Raster.mbValue(7, 9, 1))
    assert(!plB1.queryExecution.executedPlan.toString.contains("Exchange"))
    // count(*) and positions-only reads stay decode-free on multiband
    assert(mb.count() == 48L * 40 * 2)
    assert(mb.select("cell_x", "cell_y", "band").distinct().count() == 48L * 40 * 2)
    // single-band schema unchanged
    val sb = spark.read.format("graft.zonal.TiffSource")
      .load(graft.zonal.Raster.fixturePath())
    assert(sb.schema.fieldNames.toSeq == Seq("cell_x", "cell_y", "value"))
  }

  test("r18 multi-file concat scans: label join broadcasts, manifest repartition the only data shuffle") {
    // the mf scans at 100 TB: thousands of member files → the chunk
    // manifests split as local Seqs with no roundrobin shuffle, the
    // global label table (axis-sized) must BROADCAST onto the cells, and
    // nothing may sort-merge the cube side
    // (the single-file time and coordinate reads go through the DSv2
    // faces: their labels are columns of the scan, so their plans have
    // no join and no roundrobin)
    Seq("scan_netcdf4_4d_time", "scan_netcdf_time_noleap", "scan_netcdf_time",
        "scan_netcdf_coords").foreach { n =>
      val face = q(n)
      face.collect()
      val fp = face.queryExecution.executedPlan.toString
      assert(fp.contains("BatchScan") && !fp.contains("Join") && !fp.contains("roundrobin"),
        s"$n: labels not read in the scan:\n${fp.take(3000)}")
    }
    Seq("scan_netcdf_mf", "scan_zarr_mf", "scan_netcdf4_mf", "scan_zarr_4d_time")
      .foreach { n =>
        val df = q(n)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("BroadcastHashJoin"),
          s"$n: epoch labels not broadcast onto the cells:\n${p.take(3000)}")
        assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
          s"$n shuffles the cube side for the label join:\n${p.take(3000)}")
        val exchanges = "Exchange [a-z]+".r.findAllIn(p).toList
          .map(_.stripPrefix("Exchange "))
        assert(exchanges.forall(_ == "rangepartitioning"),
          s"$n has unexpected exchanges $exchanges:\n${p.take(3000)}")
      }
  }

  test("r18/r22 dedup_substring: salted exact confirm, Bloom-prefiltered candidates, no offset join") {
    // the r17 scale-killer: `count over (partition by sh)` funneled a
    // hot boilerplate substring into one window task. The shape must
    // show (a) no Window over sh — the only Window is the per-doc
    // gaps-and-islands; (b) the salted partial count keyed by
    // (sh, pmod(xxhash64(doc_id, off), salts)); (c) r22: the
    // duplicated-hash set reaches the offsets as an in-plan Bloom
    // filter (scalar subquery + might_contain), NOT as an equi-join —
    // the raw (doc_id, off, h) table is never shuffled by h
    val df = q("dedup_substring")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition(sh"),
      s"exact confirm still windows over the raw substring:\n${p.take(3000)}")
    assert(p.contains("windowspecdefinition(doc_id"),
      "the per-doc gaps-and-islands window must remain")
    assert(p.contains("pmod(xxhash64(doc_id"),
      s"no salted partial count in the confirm:\n${p.take(3000)}")
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain"),
      s"candidate prefilter is not the in-plan Bloom:\n${p.take(3000)}")
    assert(p.contains("bloom_filter_agg") || p.contains("BloomFilterAggregate")
      || p.contains("Subquery"),
      s"Bloom build subquery missing:\n${p.take(3000)}")
  }

  test("asof join shuffles once on the partition key (no join at all)") {
    val p = plan("join_asof")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"),
      "asof should be window-based, not a physical join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(1500))
  }

  test("exact coverage: one map-side clip expression + two-phase agg, no expansion") {
    Seq("zonal_stats_coverage_exact", "zonal_stats_coverage_wkb").foreach { n =>
      val df = q(n)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // the clip is a single codegen'd expression per (zone, cell) row —
      // no 16× subcell explode on the CELL side (the sampled variant's
      // sequence(0, 15) generate), no Window, no NLJ. The only Generate
      // nodes are the tiny broadcast-side zone→tile expansions.
      assert(p.toLowerCase.contains("cellcover"), // cellcover( / cellcoverwkb(
        s"$n lost the native clip expression:\n${p.take(2000)}")
      assert(!p.contains("sequence(0, 15") && !p.contains("Window")
        && !p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"$n expands rows or loops:\n${p.take(3000)}")
      // partial aggregation before the exchange (map-side combine)
      assert(p.contains("partial_"), s"$n aggregation is not two-phase:\n${p.take(3000)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$n zone join is not the broadcast tile equi-join:\n${p.take(3000)}")
    }
  }

  test("raster scans: the only shuffle is the tiny manifest repartition") {
    Seq("scan_raster", "scan_raster_window").foreach { n =>
      val df = q(n)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"$n grew a join:\n${p.take(2000)}")
      // exchanges: only the orderBy's range exchange for the
      // deterministic dump — the tile manifest splits as a local Seq
      val exchanges = "Exchange [a-z]+".r.findAllIn(p).toList.map(_.stripPrefix("Exchange "))
      assert(exchanges.forall(_ == "rangepartitioning"),
        s"$n has unexpected exchanges $exchanges:\n${p.take(3000)}")
    }
  }

  test("DSv2 raster source: pushed filters prune tiles, zero scan-side shuffle, pruned decode") {
    import org.apache.spark.sql.functions.col
    val path = graft.zonal.Raster.fixturePath()
    val df = spark.read.format("graft.zonal.TiffSource").load(path)
      .filter(col("cell_x").between(10, 40) && col("cell_y").between(5, 35))
    // correctness against the generating formula
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 31 * 31)
    assert(got((10, 5)) == graft.zonal.Raster.fixtureValue(10, 5))
    assert(got((40, 35)) == graft.zonal.Raster.fixtureValue(40, 35))
    val p = df.queryExecution.executedPlan.toString
    // the scan IS a DSv2 BatchScan with the window visible as pushed filters
    assert(p.contains("BatchScan"), s"not a DSv2 scan:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"DSv2 raster scan grew a shuffle:\n${p.take(2000)}")
    // planning pruned the 3x3 manifest to the 4 overlapping tiles
    assert(plannedChunks(df) == 4,
      s"expected 4 pruned tiles, got ${plannedChunks(df)}")
    // unfiltered: all 9 tiles, all cells
    val full = spark.read.format("graft.zonal.TiffSource").load(path)
    assert(plannedChunks(full) == 9)
    assert(full.count() == graft.zonal.Raster.FixW.toLong * graft.zonal.Raster.FixH)
    // column pruning reaches the decoder: positions-only projection and
    // count(*) both work without the value column
    val xs = full.select("cell_x").distinct().count()
    assert(xs == graft.zonal.Raster.FixW)
  }

  test("round-5 ops: focal is explode+one agg, overlay is two broadcasts, geojson zones broadcast") {
    // focal mean: the neighborhood explode is map-side (Generate), and
    // the only shuffles are the grid-key agg + the deterministic sort
    val focal = q("raster_focal_mean")
    focal.collect()
    // AQE's toString appends an "Initial Plan" copy — audit the final plan only
    val fp = focal.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fp.contains("Generate"), "focal explode missing")
    assert(!fp.contains("Join"), s"focal grew a join:\n${fp.take(1500)}")
    val fex = "Exchange [a-z]+".r.findAllIn(fp).toList.map(_.stripPrefix("Exchange "))
    assert(fex.count(_ == "hashpartitioning") <= 1
      && fex.forall(e => e == "hashpartitioning" || e == "rangepartitioning" || e == "roundrobin"),
      s"focal has unexpected exchanges $fex")
    // overlay: BOTH zone layers broadcast — no shuffle on the cube side
    // beyond the final aggregation
    val ov = q("zonal_overlay")
    ov.collect()
    val op = ov.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(op).size >= 2,
      s"overlay should broadcast both zone layers:\n${op.take(1500)}")
    assert(!op.contains("SortMergeJoin"), "overlay fell back to a sort-merge join")
    // geojson zones: the parsed zone table still broadcasts into rasterize
    val gj = q("zonal_geojson")
    gj.collect()
    val gp = gj.queryExecution.executedPlan.toString
    assert(gp.contains("BroadcastHashJoin"), "geojson zones not broadcast")
    assert(!gp.contains("SortMergeJoin"), "geojson rasterize fell back to sort-merge")
  }

  test("round-6 ops: shapefile zones broadcast, map algebra stays keyed, packing windows sharded") {
    // shapefile zones ride the same broadcast rasterize as geojson
    val shp = q("zonal_shapefile")
    shp.collect()
    val sp = shp.queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastHashJoin"), "shapefile zones not broadcast")
    assert(!sp.contains("SortMergeJoin"), "shapefile rasterize fell back to sort-merge")
    // map algebra: the two-raster combine must be a KEYED cell equi-join
    val alg = q("raster_algebra")
    alg.collect()
    val ap = alg.queryExecution.executedPlan.toString
    assert(!ap.contains("BroadcastNestedLoopJoin") && !ap.contains("CartesianProduct"),
      s"map algebra degraded to an unkeyed join:\n${ap.take(1500)}")
    // batch packing: the doc-level prefix sum must be the SHARDED window
    // (a global unpartitioned window would single-task the corpus)
    val pack = q("pipeline_pack_batches")
    pack.collect()
    val pp = pack.queryExecution.executedPlan.toString
    assert(pp.contains("windowspecdefinition(shard"),
      s"doc-level prefix sum not sharded:\n${pp.take(2000)}")
  }

  test("round-7 ops: contamination and proximity broadcast their sparse side; stream zonal broadcasts zones") {
    // decontamination: the benchmark gram set is the broadcast side of
    // an EQUI join — corpus grams never shuffle against it
    val cont = q("text_contamination")
    cont.collect()
    val cp = cont.queryExecution.executedPlan.toString
    assert(cp.contains("BroadcastHashJoin"), "benchmark grams not broadcast")
    assert(!cp.contains("SortMergeJoin"),
      s"contamination join fell back to sort-merge:\n${cp.take(1500)}")
    // proximity: the sparse target mask broadcasts; the raster side must
    // not shuffle for the join (nested-loop against broadcast is the
    // declared shape for a min-over-targets scan)
    val prox = q("raster_proximity")
    prox.collect()
    val xp = prox.queryExecution.executedPlan.toString
    assert(xp.contains("BroadcastNestedLoopJoin") && !xp.contains("CartesianProduct"),
      s"proximity targets not broadcast:\n${xp.take(1500)}")
    // streaming zonal: the zone-envelope range join broadcasts zones
    val sz = q("stream_zonal_stats")
    sz.collect()
    val zp = sz.queryExecution.executedPlan.toString
    assert(zp.contains("Broadcast") && !zp.contains("SortMergeJoin") &&
      !zp.contains("CartesianProduct"),
      s"stream zonal envelope join not broadcast:\n${zp.take(1500)}")
    // stratified split: one window per stratum, no join anywhere
    val split = q("split_stratified")
    split.collect()
    val sp2 = split.queryExecution.executedPlan.toString
    assert(sp2.contains("windowspecdefinition(lang"),
      s"split window not stratum-partitioned:\n${sp2.take(1500)}")
    assert(!sp2.contains("Join"), "stratified split should not join")
  }

  test("round-8 ops: world zones and bilinear corners broadcast; distance transform never joins cells×targets") {
    // world-coordinate zonal stats: the (tiny, world→cell-mapped) zone
    // side broadcasts into the tile equi-join — the raster side must
    // not shuffle before the aggregate
    val w = q("zonal_raster_world")
    w.collect()
    val wp = w.queryExecution.executedPlan.toString
    assert(wp.contains("BroadcastHashJoin") && !wp.contains("SortMergeJoin")
      && !wp.contains("CartesianProduct"),
      s"world zones not broadcast:\n${wp.take(1500)}")
    // the polygon variant keeps the same broadcast-rasterize shape with
    // the parity refine folded into the join filter side
    val poly = q("zonal_raster_world_poly")
    poly.collect()
    val pp = poly.queryExecution.executedPlan.toString
    assert(pp.contains("BroadcastHashJoin") && !pp.contains("CartesianProduct"),
      s"world polygon zones not broadcast:\n${pp.take(1500)}")
    // bilinear warp: the 4-rows-per-target corner table is the
    // broadcast side of a grid equi-join; cells never shuffle for it
    val bl = q("raster_warp_bilinear")
    bl.collect()
    val bp = bl.queryExecution.executedPlan.toString
    assert(bp.contains("BroadcastHashJoin") && !bp.contains("SortMergeJoin"),
      s"bilinear corner table not broadcast:\n${bp.take(1500)}")
    // distance transform: two scatter phases + hash aggs — no
    // cells×targets product anywhere (the exact thing it replaces)
    val dt = q("raster_distance_transform")
    dt.collect()
    val dp = dt.queryExecution.executedPlan.toString
    assert(!dp.contains("CartesianProduct") && !dp.contains("BroadcastNestedLoopJoin"),
      s"distance transform degenerated to a product:\n${dp.take(1500)}")
    assert(dp.contains("HashAggregate"), "scatter phases must fold through hash aggs")
  }

  test("knn graph ranks through the native TopK; anomaly stats broadcast; upsert anti-joins") {
    val g = q("sim_knn_graph").queryExecution.executedPlan.toString
    assert(g.contains("TopKExec") || g.contains("TopK"),
      s"knn graph did not route through the native bounded-heap TopK:\n${g.take(1500)}")
    assert(!g.contains("CartesianProduct"), "knn graph fell back to a cartesian join")
    val a = q("events_anomaly").queryExecution.executedPlan.toString
    assert(a.contains("BroadcastHashJoin"),
      s"anomaly stats table not broadcast:\n${a.take(1500)}")
    val u = q("sink_upsert").queryExecution.executedPlan.toString
    // the read-back plan is just a scan; the WRITE side plan is what
    // matters — re-derive the merged frame's plan via the same query
    // run (collect forces the sink) and assert the result is sane
    assert(q("sink_upsert").columns.toSeq == Seq("k", "v"))
  }

  test("r10 ops join on keys, never cartesian; align maps are filter+project over the scans") {
    // auto-align: the mapping is derived from headers and applied as a
    // projection — the only join is the cell-key equi-join (broadcast or
    // sort-merge, AQE's pick); a cartesian/NLJ would mean the mapping
    // leaked into the join condition
    for (name <- Seq("raster_align_nearest", "raster_align_avg",
        "zonal_raster_autoalign", "dedup_minhash_incremental", "zonal_geojson_snap")) {
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian join")
      assert(!(p.contains("BroadcastNestedLoopJoin") && name.startsWith("raster_align")),
        s"$name planned an NLJ for the cell equi-join")
    }
  }

  test("cube scans (Zarr/NetCDF/JPEG-TIFF): manifest repartition is the only shuffle") {
    Seq("scan_zarr", "scan_zarr_v3", "scan_netcdf", "scan_netcdf_window",
        "scan_raster_jpeg").foreach { n =>
      val df = q(n)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"$n grew a join:\n${p.take(2000)}")
      // no manifest round-robin: the face packs its chunks, a local
      // Seq of refs splits without an exchange
      val exchanges = "Exchange [a-z]+".r.findAllIn(p).toList.map(_.stripPrefix("Exchange "))
      assert(exchanges.forall(_ == "rangepartitioning"),
        s"$n has unexpected exchanges $exchanges:\n${p.take(3000)}")
    }
  }

  test("reprojection: pure map-side projection, degree-zone join broadcasts") {
    // the Krüger inverse must not add any exchange beyond the dump's
    // range sort — at 100 TB the cell side of a reprojection NEVER
    // shuffles
    Seq("raster_reproject_wgs84", "raster_reproject_utm").foreach { n =>
      val df = q(n)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"$n grew a join:\n${p.take(2000)}")
      val exchanges = "Exchange [a-z]+".r.findAllIn(p).toList.map(_.stripPrefix("Exchange "))
      assert(exchanges.forall(_ == "rangepartitioning"),
        s"$n has unexpected exchanges $exchanges")
    }
    // degree-space zonal: zones broadcast, cells stay put
    Seq("zonal_raster_wgs84", "zonal_raster_utm").foreach { n =>
      val df = q(n)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$n zone join is not broadcast:\n${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"$n shuffled the cell side")
    }
  }

  test("reprojection chains: small optimized plans, whole-stage codegen compiles without fallback") {
    // the zone join's inferred isnotnull(lon/lat) filter used to inline
    // every level of the Helmert/Krüger/grid-mapping chains back into
    // itself (6,869 expression nodes for zonal_raster_nad83, past
    // Janino's 64 KB method limit); LevelChain.apply declares lon/lat
    // non-null so nothing is inferred. Each id must stay small and run
    // in a session of its own where a codegen fallback is an error.
    import graft.zonal.{GridMapping, Helmert, Reproject, Utm}
    val ids = Seq(Helmert.defs, Utm.defs, GridMapping.defs, Reproject.defs).flatten.map(_._1)
    assert(ids.size == 37, ids)
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    ids.foreach { id =>
      val nodes = graft.tools.PlanDump.exprNodes(q(id).queryExecution.optimizedPlan)
      assert(nodes <= 1000, s"$id: optimized plan has $nodes expression nodes")
      SparkEntry.queries(id)(strict, sf).write.format("noop").mode("overwrite").save()
    }
  }

  test("z-ordered store: the spatial window's bucket list reaches PartitionFilters") {
    q("sink_zorder").collect() // ensure a store exists
    val w = q("scan_zorder_window")
    w.collect()
    val p = w.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("zbucket"),
      s"zbucket candidates did not become partition filters:\n${p.take(2000)}")
    // the 16×16 window spans 4 of the 16 coarse buckets — the IN list
    // must be a strict subset, or nothing was pruned
    val in = "zbucket#\\d+L? IN \\(([^)]*)\\)".r.findFirstMatchIn(p)
    assert(in.exists(_.group(1).split(",").length <= 4),
      s"expected ≤4 candidate buckets in: ${in.map(_.matched).getOrElse(p.take(500))}")
  }

  test("r16 feature ops: zonal_points and zonal_lines stay broadcast-shaped") {
    // stations-per-zone: the attrs join AND the rasterize tile join are
    // broadcast hash joins — the point side never shuffles for a join
    val pp = plan("zonal_points")
    assert(pp.contains("BroadcastHashJoin"),
      s"zonal_points lost its broadcast joins:\n${pp.take(1500)}")
    assert(!pp.contains("SortMergeJoin"),
      s"zonal_points shuffles a side that should broadcast:\n${pp.take(1500)}")
    // roads-per-zone: both endpoint-parity joins broadcast; the only
    // shuffles are the lead window (by road) and the final hash agg
    val pl = plan("zonal_lines")
    assert(pl.contains("BroadcastHashJoin"),
      s"zonal_lines lost its broadcast parity joins:\n${pl.take(1500)}")
    assert(pl.contains("Window"), "zonal_lines segments should come from a lead window")
    assert(!pl.contains("SortMergeJoin"),
      s"zonal_lines shuffles a join side that should broadcast:\n${pl.take(1500)}")
  }
}
