package graft

import org.apache.spark.sql.functions._
import graft.ext.Ext
import graft.zonal.{Cube, ZonalStore}

/** Catalyst-extension specs: codegen cosine parity, byte_stats decode
  * stub, map-histogram vs long-form, tile-pruned scans.
  */
class ExtSpec extends SparkSuite {
  import spark.implicits._

  test("cosine_sim expression is bit-identical to the composed zip_with/aggregate fold") {
    val emb = graft.core.Tables.embeddings(spark, sf).limit(50)
    val composed =
      """(aggregate(zip_with(a.embedding, b.embedding, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)
        | / sqrt(aggregate(a.embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
        |       * aggregate(b.embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin
    val diff = emb.as("a").crossJoin(emb.as("b"))
      .select(expr("cosine_sim(a.embedding, b.embedding)").as("fast"),
        expr(composed).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val docs = graft.core.Tables.documents(spark, sf).limit(40)
      .withColumn("bg", sort_array(array_distinct(split(lower(col("text")), " "))))
      .select("doc_id", "bg")
    val diff = docs.as("a").crossJoin(docs.as("b"))
      .select(expr("sorted_intersect_count(a.bg, b.bg)").as("fast"),
        size(array_intersect(col("a.bg"), col("b.bg"))).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("poly_hash: hand-computed value, empty string, and engine-portable fold") {
    import spark.implicits._
    // 'ab cd' → ((((0·31+97)·31+98)·31+32)·31+99)·31+100 mod 1e9+7 =
    // 92534976 — the same value DuckDB's list_reduce twin returns
    // (verified against duckdb 1.x during development)
    val got = Seq("ab cd", "", "a").toDF("s")
      .selectExpr("poly_hash(s)").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(92534976L, 0L, 97L))
    // interpreted eval agrees with the codegen path exercised above
    import org.apache.spark.sql.catalyst.expressions.Literal
    assert(graft.ext.PolyHash(Literal("ab cd")).eval(null) == 92534976L)
  }

  test("poly_hash_shingles: rolling hash equals per-window poly_hash, edge cases") {
    import spark.implicits._
    // random-ish deterministic text incl. repeats and non-ASCII BMP
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "aaaaaaaaaaaa", "abc", "ab", "", "çédille-ünïcode-text-çédille")
    for (t <- texts; n <- Seq(1, 3, 5)) {
      val rolled = Seq(t).toDF("s")
        .selectExpr(s"poly_hash_shingles(s, $n) AS hs")
        .collect().head.getSeq[Long](0)
      val direct = Seq(t).toDF("s").selectExpr(
        s"CASE WHEN length(s) < $n THEN array() " +
          s"ELSE transform(sequence(1, length(s) - ${n - 1}), " +
          s"i -> poly_hash(substring(s, i, $n))) END AS hs")
        .collect().head.getSeq[Long](0)
      assert(rolled == direct, s"n=$n text='$t': $rolled vs $direct")
      assert(rolled.length == math.max(0, t.codePointCount(0, t.length) - n + 1))
    }
  }

  test("point_in_quad expression ≡ the composed pipSql predicate on every grid point") {
    // all zones × all 64×64 grid points, both spellings side by side
    val pts = spark.range(64).selectExpr("CAST(id AS INT) AS gx")
      .crossJoin(spark.range(64).selectExpr("CAST(id AS INT) AS gy"))
    val z = Cube.polyZones(spark, sf).crossJoin(pts)
    val both = z.selectExpr(
      s"${Cube.pipExpr("gx", "gy")} AS fast",
      s"${Cube.pipSql("gx", "gy")} AS slow")
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    // and on the ×8 lattice used by the coverage supersampler
    val both8 = z.selectExpr(
      s"${Cube.pipExpr("8 * gx + 1", "8 * gy + 1", 8)} AS fast",
      s"${Cube.pipSql("8 * gx + 1", "8 * gy + 1", 8)} AS slow")
    assert(both8.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("cell_cover: exact clipped areas on hand-checked quads") {
    import graft.ext.CellCover
    val D = CellCover.Denom // 2·840²
    def cov(cx: Long, cy: Long, vs: (Long, Long)*): Long =
      CellCover.cover2L2(Array(cx, cy) ++ vs.flatMap(p => Seq(p._1, p._2)))
    // big square (0,0)-(8,8): interior cell fully covered, outside cell 0
    val sq = Seq((0L, 0L), (8L, 0L), (8L, 8L), (0L, 8L))
    assert(cov(3, 3, sq: _*) == D, "interior cell must be fully covered")
    assert(cov(9, 9, sq: _*) == 0L, "exterior cell must have zero cover")
    assert(cov(7, 7, sq: _*) == D, "corner-touching interior cell is full")
    // right triangle (0,0)-(2,0)-(0,2): hypotenuse x+y=2 touches cell
    // (0,0) only at its far corner → full; halves cell (1,0); leaves
    // cell (1,1) a zero-area corner sliver
    val tri3 = Seq((0L, 0L), (2L, 0L), (0L, 2L), (0L, 0L)) // degenerate 4th vertex
    assert(cov(0, 0, tri3: _*) == D, "cell under the hypotenuse is full")
    assert(cov(1, 0, tri3: _*) == D / 2, "hypotenuse-split cell must be half")
    assert(cov(1, 1, tri3: _*) == 0L)
    // fractional-slope exactness: triangle (0,0)-(3,1)-(0,1) over cell
    // (0,0) = region between y=x/3 and y=1 → 1 − 1/6 = 5/6 exactly
    val tri13 = Seq((0L, 0L), (3L, 1L), (0L, 1L), (0L, 0L))
    assert(cov(0, 0, tri13: _*) == 5 * D / 6, "1/3-slope wedge must be exactly 5/6")
    // additivity: the four cells under the 2×2 square (0,0)-(2,2) sum to 4 full
    val sq2 = Seq((0L, 0L), (2L, 0L), (2L, 2L), (0L, 2L))
    val four = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L))
      .map { case (x, y) => cov(x, y, sq2: _*) }.sum
    assert(four == 4 * D)
  }

  test("cell_cover_wkb: hole subtraction, multipolygon additivity, loud contract failures") {
    import graft.ext.{CellCover, Wkb}
    val D = CellCover.Denom
    def ring(pts: (Double, Double)*): Array[Byte] = {
      val closed = pts :+ pts.head
      val b = java.nio.ByteBuffer.allocate(4 + closed.size * 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(closed.size)
      closed.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
      b.array()
    }
    def poly(rings: Array[Byte]*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(9 + rings.map(_.length).sum)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).putInt(3).putInt(rings.size)
      rings.foreach(b.put)
      b.array()
    }
    def multi(polys: Array[Byte]*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(9 + polys.map(_.length).sum)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).putInt(6).putInt(polys.size)
      polys.foreach(b.put)
      b.array()
    }
    // outer (0,0)-(8,8) with hole (2,2)-(4,4)
    val holed = poly(
      ring((0, 0), (8, 0), (8, 8), (0, 8)),
      ring((2, 2), (4, 2), (4, 4), (2, 4)))
    assert(Wkb.cover2L2(0, 0, holed) == D, "cell away from the hole is full")
    assert(Wkb.cover2L2(3, 3, holed) == 0L, "cell inside the hole is empty")
    assert(Wkb.cover2L2(2, 2, holed) == 0L)
    assert(Wkb.cover2L2(4, 4, holed) == D, "cell just past the hole is full")
    // two x-disjoint parts: additive, gap cell empty
    val mp = multi(
      poly(ring((0, 0), (2, 0), (2, 2), (0, 2))),
      poly(ring((4, 0), (6, 0), (6, 2), (4, 2))))
    assert(Wkb.cover2L2(1, 1, mp) == D && Wkb.cover2L2(5, 0, mp) == D)
    assert(Wkb.cover2L2(3, 0, mp) == 0L, "gap between parts must be empty")
    // fractional coordinates: loud failure, never truncation
    val frac = poly(ring((0.5, 0.5), (2.5, 0.5), (2.5, 2.5), (0.5, 2.5)))
    val e1 = intercept[IllegalArgumentException](Wkb.cover2L2(1, 1, frac))
    assert(e1.getMessage.contains("integral lattice"))
    // edge delta 13 ∤ 840: the clip division would round — must throw
    val steep = poly(ring((0, 0), (13, 5), (0, 5)))
    val e2 = intercept[IllegalArgumentException](Wkb.cover2L2(1, 0, steep))
    assert(e2.getMessage.contains("lattice"), s"got: ${e2.getMessage}")
  }

  test("byte_stats matches hand-computed values") {
    val r = Seq("abc").toDF("s")
      .select(expr("byte_stats(CAST(s AS BINARY))").as("f"))
      .select("f.n_bytes", "f.mean_byte", "f.min_byte", "f.max_byte")
      .head
    assert(r.getInt(0) == 3 && r.getDouble(1) == 98.0 && r.getInt(2) == 97 && r.getInt(3) == 99)
  }

  test("geomean aggregator equals the log-domain SQL formula") {
    val viaAgg = q("udaf_geomean").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaSql = graft.core.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(round(exp(avg(log(col("l_extendedprice")))), 6).as("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    viaAgg.foreach { case (k, v) => assert(math.abs(v - viaSql(k)) < 1e-4, s"$k: $v vs ${viaSql(k)}") }
  }

  test("VecCentroid aggregator matches the exploded posexplode+avg centroid") {
    val vecAvg = org.apache.spark.sql.functions.udaf(graft.ext.Aggregators.VecCentroid)
    val emb = graft.core.Tables.embeddings(spark, sf)
    val viaAgg = emb.groupBy("label").agg(vecAvg(col("embedding")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val viaExplode = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg(col("v").cast("double")).as("c"))
      .collect().groupBy(_.getInt(0))
      .map { case (l, rows) => l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    viaAgg.foreach { case (l, c) =>
      val e = viaExplode(l)
      assert(c.size == e.size && c.zip(e).forall { case (x, y) => math.abs(x - y) < 1e-9 },
        s"centroid mismatch for label $l")
    }
  }

  test("map-form histogram agrees with the long-form zonal_hist") {
    val m = q("zonal_hist_map").collect()
      .map(r => r.getInt(0) -> r.getString(1).split(",").map { kv =>
        val Array(k, v) = kv.split(":"); k.toInt -> v.toLong
      }.toMap).toMap
    val long = q("zonal_hist").collect()
      .groupBy(_.getInt(0))
      .map { case (z, rows) => z -> rows.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    assert(m == long)
  }

  test("tile-pruned scan reads fewer files and agrees with the unpruned result") {
    val store = ZonalStore.ensureTiled(spark, sf)
    val zonesF = Cube.zones(spark, sf).filter(col("zone_id") < 3)
    val prunedDf = ZonalStore.prunedStats(spark, store, zonesF)
    // inputFiles lists pre-pruning; read the scan's numFiles metric after
    // actually executing the plan
    def scannedFiles(df: org.apache.spark.sql.DataFrame, pathTag: String): Long = {
      val qe = df.queryExecution
      qe.toRdd.count()
      qe.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.mkString(",").contains(pathTag) => f
      }.map(_.metrics("numFiles").value).sum
    }
    val fullFiles = scannedFiles(spark.read.parquet(store), "cells_tiled")
    val prunedFiles = scannedFiles(
      spark.read.parquet(store).filter(ZonalStore.tilePredicate(zonesF)), "cells_tiled")
    assert(prunedFiles > 0 && prunedFiles < fullFiles,
      s"pruning did not reduce files: $prunedFiles vs $fullFiles")
    val unpruned = graft.zonal.Zonal.stats(Cube.cells(spark, sf), zonesF)
      .select("zone_id", "n_cells", "sum_v")
    val got = prunedDf.select("zone_id", "n_cells", "sum_v")
    assert(got.exceptAll(unpruned).isEmpty && unpruned.exceptAll(got).isEmpty)
  }

  test("lsh_bucket ≡ the legacy relational spelling (posexplode + plane join + two aggs)") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    // plane components: driver-side derivation vs the portable SQL
    // universal-hash spelling (r14 — the same expression the DuckDB
    // oracle evaluates)
    val aCol = array(graft.ext.LshBucket.PlaneA.map(lit(_)): _*)
    val bCol = array(graft.ext.LshBucket.PlaneB.map(lit(_)): _*)
    def compCol = pmod(
      element_at(aCol, col("j").cast("int") + 1) * (col("pos") + 1) +
        element_at(bCol, col("j").cast("int") + 1),
      lit(graft.ext.LshBucket.PlaneMod)).cast("double") / 1009.0 - 0.5
    val sqlComps = spark.range(graft.ext.LshBucket.NumPlanes).select(col("id").as("j"))
      .crossJoin(spark.range(64).select(col("id").as("pos")))
      .withColumn("p", compCol)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for (j <- 0 until graft.ext.LshBucket.NumPlanes; pos <- 0 until 64)
      assert(graft.ext.LshBucket.component(j.toLong, pos.toLong) == sqlComps((j.toLong, pos.toLong)),
        s"plane component ($j,$pos) diverges from the SQL spelling")
    // full bucket ids over the corpus
    val planes = spark.range(graft.ext.LshBucket.NumPlanes).select(col("id").as("j"))
      .crossJoin(spark.range(64).select(col("id").as("pos")))
      .withColumn("p", compCol)
    val legacy = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(broadcast(planes), "pos")
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("v") * col("p")).as("dot"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("dot") > 0, expr("CAST(pow(2, j) AS BIGINT)")).otherwise(0L))
        .as("legacy_bucket"))
    val fast = emb.select(col("vec_id"), expr("lsh_bucket(embedding)").as("bucket"))
    val diff = fast.join(legacy, "vec_id")
      .filter(col("bucket") =!= col("legacy_bucket"))
    assert(diff.count() == 0, "lsh_bucket diverges from the relational spelling")
  }

  test("argmax_cosine ≡ the window-argmax centroid assignment") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.core.Tables.embeddings(spark, sf)
    val centroids = emb
      .select(col("label").as("c_label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("c_label"), col("pos"))
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy(col("c_label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)").as("centroid"))
    val w = Window.partitionBy("vec_id")
      .orderBy(round(expr("cosine_sim(embedding, centroid)"), 6).desc, col("c_label"))
    val legacy = emb.crossJoin(broadcast(centroids))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("c_label").as("legacy_label"))
    val packed = centroids
      .agg(expr("sort_array(collect_list(struct(c_label, centroid)))").as("cs"))
      .select(expr("transform(cs, s -> s.c_label)").as("c_labels"),
        expr("transform(cs, s -> s.centroid)").as("cents"))
    val fast = emb.crossJoin(broadcast(packed))
      .select(col("vec_id"),
        element_at(col("c_labels"), expr("argmax_cosine(embedding, cents)")).as("c_label"))
    val diff = fast.join(legacy, "vec_id")
      .filter(col("c_label") =!= col("legacy_label"))
    assert(diff.count() == 0, "argmax_cosine diverges from the window argmax")
  }

  test("dynamic tile pruning: DPP expression in the plan, same results, no driver collect") {
    val store = ZonalStore.ensureTiled(spark, sf)
    val zonesF = Cube.zones(spark, sf).filter(col("zone_id") < 3)
    val dyn = ZonalStore.prunedStatsDynamic(spark, store, zonesF)
    val qe = dyn.queryExecution
    qe.toRdd.count()
    assert(qe.executedPlan.toString.contains("dynamicpruning"),
      "dynamic partition pruning did not fire on the tiled store")
    val static = ZonalStore.prunedStats(spark, store, zonesF)
    assert(dyn.exceptAll(static).isEmpty && static.exceptAll(dyn).isEmpty)
  }

  test("wkb_stats: hand-computed square+hole and multipolygon; orientation-independent") {
    import graft.ext.Wkb
    // CCW square (0,0)-(8,0)-(8,8)-(0,8) with CW hole (2,2)-(2,4)-(4,4)-(4,2):
    // area = 64 - 4 = 60 -> area2 = 120; outer centroid (4,4), hole centroid (3,3)
    def ring(pts: (Int, Int)*): Seq[(Int, Int)] = pts :+ pts.head
    def wkbPoly(rings: Seq[Seq[(Int, Int)]]): Array[Byte] = {
      val total = 1 + 4 + 4 + rings.map(r => 4 + r.size * 16).sum
      val b = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.putInt(3); b.putInt(rings.size)
      rings.foreach { r =>
        b.putInt(r.size)
        r.foreach { case (x, y) => b.putDouble(x); b.putDouble(y) }
      }
      b.array()
    }
    val outer = ring((0, 0), (8, 0), (8, 8), (0, 8))               // CCW
    val hole = ring((2, 2), (2, 4), (4, 4), (4, 2))                // CW
    val row = Wkb.stats(wkbPoly(Seq(outer, hole)))
    assert(row.getLong(0) == 120, s"area2 ${row.getLong(0)}")
    // centroid = cx_num/(3*area2): outer 64@(4,4) minus hole 4@(3,3)
    // -> x = (64*4 - 4*3)/60 = 244/60; numerator = that * 3*120 = 1464
    assert(row.getLong(1) == 1464 && row.getLong(2) == 1464,
      s"centroid nums ${row.getLong(1)},${row.getLong(2)}")
    assert(row.getInt(3) == 1 && row.getInt(4) == 2 && row.getInt(5) == 8)
    assert(row.getLong(6) == 0 && row.getLong(7) == 0
      && row.getLong(8) == 8 && row.getLong(9) == 8)
    // reversing BOTH ring orientations changes nothing (|shoelace| norm)
    val rev = Wkb.stats(wkbPoly(Seq(outer.reverse, hole.reverse)))
    assert((0 until 10).forall(i => rev.get(i, null) == row.get(i, null) ||
      (rev.getLong(0) == row.getLong(0) && rev.getLong(1) == row.getLong(1)
        && rev.getLong(2) == row.getLong(2))))
    assert(rev.getLong(0) == 120 && rev.getLong(1) == 1464 && rev.getLong(2) == 1464)
    // fractional coordinates fail loudly
    val bad = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 4 + 4 * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.put(1.toByte); bad.putInt(3); bad.putInt(1); bad.putInt(4)
    Seq((0.5, 0.0), (1.0, 0.0), (1.0, 1.0), (0.5, 0.0)).foreach { case (x, y) =>
      bad.putDouble(x); bad.putDouble(y)
    }
    val e = intercept[IllegalArgumentException](Wkb.stats(bad.array()))
    assert(e.getMessage.contains("integral"))
  }

  test("bounded_collect_list: value-equal to collect_list under cap; raise mode dies at cap+1; drop mode yields NULL") {
    import graft.llm.Buckets
    // r22 guard-restoration pin (VERDICT r21 wrong-#1/#2): the cap is
    // enforced DURING accumulation, so the mega bucket dies by the named
    // refusal (raise mode) or collapses to NULL (drop mode) without the
    // buffer ever holding more than cap+1 elements.
    val rows = (1L to 100L).map(i => (i % 7, i)).toDF("k", "v")
    // under-cap: identical to plain collect_list (sorted)
    val fast = Buckets.guardedCollect(rows, Seq("k"), col("v"), 4096, "boom")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val slow = rows.groupBy("k").agg(sort_array(collect_list(col("v"))).as("ms"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(fast.toSeq == slow.toSeq)
    // raise mode: one key over cap raises the named error
    val e = intercept[Throwable](
      Buckets.guardedCollect(rows, Seq("k"), col("v"), 10, "mega-bucket test refusal")
        .count())
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(e).contains("mega-bucket test refusal"), s"wanted the bound refusal, got: ${msgs(e)}")
    // the refusal is typed: a SparkRuntimeException with a stable error
    // class, carrying the cap and the group size seen (11..15 here:
    // every key holds 14 or 15 values)
    import org.apache.spark.sql.graftbridge.BoundedCollectOverflow
    def chain(t: Throwable): List[Throwable] = if (t == null) Nil else t :: chain(t.getCause)
    val ov = chain(e).collectFirst { case o: BoundedCollectOverflow => o }
      .getOrElse(fail(s"no BoundedCollectOverflow in: ${msgs(e)}"))
    assert(Class.forName("org.apache.spark.SparkRuntimeException").isInstance(ov))
    assert(ov.getCondition == "USER_RAISED_EXCEPTION" && ov.getSqlState == "P0001")
    assert(ov.cap == 10 && ov.size > 10 && ov.size <= 15, s"cap ${ov.cap} size ${ov.size}")
    assert(ov.getMessage.contains("cap 10"), ov.getMessage)
    // drop mode (the dedup_containment df bound): over-cap keys are
    // dropped, under-cap keys keep their full sorted lists
    val mixed = ((1L to 100L).map(i => ("hot", i)) ++ Seq(("cold", 1L), ("cold", 2L)))
      .toDF("k", "v")
    val kept = Buckets.boundedCollect(mixed, Seq("k"), col("v"), 10)
      .collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(kept.toSeq == Seq(("cold", Seq(1L, 2L))))
  }

  test("dedup_containment mega-gram corpus: a df>64 stop-gram is excluded by definition, never materialized, never an error") {
    // VERDICT r21 next-#1 pin: 10k docs sharing one 5-gram — the old
    // r21 plan collected the 10k-id posting list before filtering; the
    // bounded drop-mode collect stops at 65 ids and excludes the gram.
    // The query must COMPLETE (df>64 grams are excluded by the declared
    // semantics, not an error) and emit no pair from the stop gram.
    val boiler = (1L to 10000L).map(i =>
      (i, s"alpha bravo charlie delta echo unique$i"))
      .toDF("doc_id", "text")
    boiler.createOrReplaceTempView("containment_mega_docs")
    val out = graft.llm.Dedup.containmentOf(boiler).collect()
    // every doc shares exactly the one boilerplate 5-gram "alpha bravo
    // charlie delta echo" (df=10000 > 64) and the two grams ending in
    // unique$i (df=1): no pair survives
    assert(out.isEmpty, s"stop-gram must pair nothing, got ${out.length} rows")
  }

  test("Q.build installs the functions, the TopK strategy and the TopK rule once per session") {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.plans.{TopKRewriteRule, TopKStrategy}
    val replaced = new java.util.concurrent.atomic.AtomicInteger
    val app = new AbstractAppender("ext-spec-replaced", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
          replaced.incrementAndGet()
    }
    app.start()
    val registryLog = LoggerContext.getContext(false)
      .getLogger("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[CoreLogger]
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    SparkEntry.queries("topk_rewrite")(fresh, sf)
    registryLog.addAppender(app)
    try {
      SparkEntry.queries("topk_rewrite")(fresh, sf)
      assert(replaced.get == 0, s"the second build replaced ${replaced.get} functions")
      // the appender does see a replacement when one happens
      registry.createOrReplaceTempFunction("cosine_sim", Ext.functions.head._2, "built-in")
      assert(replaced.get == 1)
    } finally {
      registryLog.removeAppender(app)
      app.stop()
    }
    val missing = Ext.functions.map(_._1).filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(Ext.functions.size == 14 && missing.isEmpty, s"missing: $missing")
    assert(fresh.experimental.extraStrategies.count(_ == TopKStrategy) == 1)
    assert(fresh.experimental.extraOptimizations.count(_ == TopKRewriteRule) == 1)
  }

  test("source guard: only Q.build installs extensions in src/main") {
    val call = """\b(Ext\.register|ensureStrategy|ensureOptimization)\(""".r
    val allowed = Set("graft/core/Q.scala", "graft/ext/Ext.scala",
      "org/apache/spark/sql/graftbridge/GraftBridge.scala")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val hits = java.nio.file.Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = root.relativize(f).toString
      if (allowed(rel)) Nil
      else java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          s"src/main/scala/$rel:${i + 1}: ${line.trim}"
      }
    }.toList
    assert(hits.isEmpty, hits.mkString(
      "extension install outside Q.build (graft.ext.Ext.register is the one installer):\n", "\n", ""))
  }
}
