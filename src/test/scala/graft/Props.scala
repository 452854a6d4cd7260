package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck invariants (SURVEY.md §5.4) over generated frames. */
object Props extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    graft.ext.Ext.register(s)
    s
  }

  import scala.jdk.CollectionConverters._
  private def df(rows: List[(Int, Int)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private val rowsGen: Gen[List[(Int, Int)]] =
    Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 10)))

  property("windowed dedup is idempotent") = forAll(rowsGen) { rows =>
    val w = Window.partitionBy("k").orderBy("v")
    def dedup(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    val once = dedup(df(rows))
    val twice = dedup(once)
    once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty
  }

  property("row_number per partition is a permutation of 1..n") = forAll(rowsGen) { rows =>
    val w = Window.partitionBy("k").orderBy("v", "k")
    val got = df(rows).withColumn("rn", row_number().over(w))
      .groupBy("k").agg(count(lit(1)).as("n"), max("rn").as("mx"),
        min("rn").as("mn"), countDistinct("rn").as("d"))
      .collect()
    got.forall(r => r.getLong(1) == r.getInt(2) && r.getInt(3) == 1
      && r.getLong(4) == r.getLong(1))
  }

  property("semi ⊎ anti partitions the left side") = forAll(rowsGen, rowsGen) { (l, r) =>
    val left = df(l)
    val right = df(r).select(col("k").as("rk"))
    val semi = left.join(right, col("k") === col("rk"), "left_semi").count()
    val anti = left.join(right, col("k") === col("rk"), "left_anti").count()
    semi + anti == left.count()
  }

  property("union all counts add") = forAll(rowsGen, rowsGen) { (a, b) =>
    df(a).union(df(b)).count() == a.length + b.length
  }

  property("intersect ⊆ both sides; except ∩ right = ∅") = forAll(rowsGen, rowsGen) { (a, b) =>
    val da = df(a).distinct(); val db = df(b).distinct()
    val inter = da.intersect(db)
    val exc = da.except(db)
    inter.exceptAll(da).isEmpty && inter.exceptAll(db).isEmpty &&
      exc.intersect(db).isEmpty
  }

  property("native TopKPerGroup ≡ window row_number<=k under a total order") =
    forAll(rowsGen, Gen.choose(1, 6)) { (rows, k) =>
      // make the order total: dedup (k, v) so (v, k) can't tie within group
      val base = df(rows).distinct()
      val native = graft.plans.TopK.topKPerGroup(
        base, Seq("k"), Seq(("v", false), ("k", true)), k)
      val w = Window.partitionBy("k").orderBy(col("v").desc, col("k"))
      val viaWin = base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
      native.exceptAll(viaWin).isEmpty && viaWin.exceptAll(native).isEmpty
    }

  private val graphGen: Gen[(Int, List[(Int, Int)])] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(0, 40)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, es.filter { case (a, b) => a != b })

  property("connectedComponents ≡ driver-side union-find on random graphs") =
    forAll(graphGen) { case (n, es) =>
      val s = spark
      import s.implicits._
      // reference: classic union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-id canonical labels
      val want = (0 until n).map { i =>
        i.toLong -> (0 until n).filter(j => find(j) == find(i)).min.toLong
      }.toMap
      val nodes = (0 until n).map(_.toLong).toDF("node")
      val fwd = es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("x", "y")
      val edges = fwd.union(fwd.select(col("y").as("x"), col("x").as("y")))
      val got = graft.llm.Dedup.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }

  private val asciiGen: Gen[String] =
    Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString).map(_.take(40))

  property("poly_hash ≡ the reference fold on arbitrary ASCII strings") =
    forAll(Gen.listOfN(8, asciiGen)) { strs =>
      val s = spark
      import s.implicits._
      def ref(str: String): Long =
        str.codePoints().toArray.foldLeft(0L)((h, c) => (31L * h + c) % 1000000007L)
      val got = strs.toDF("s").selectExpr("poly_hash(s)").collect().map(_.getLong(0))
      got.toSeq == strs.map(ref)
    }

  property("band-bucket join ≡ naive |x−y| ≤ δ range join") =
    forAll(rowsGen) { rows =>
      val delta = 2.0
      val base = df(rows).withColumn("id", monotonically_increasing_id())
      val naive = base.as("a").join(base.as("b"),
          col("a.k") === col("b.k") && col("a.id") < col("b.id")
            && abs(col("a.v") - col("b.v")) <= delta)
        .select(col("a.id"), col("b.id"))
      val a = base.withColumn("bucket", floor(col("v") / delta).cast("long"))
      val b = base.withColumn("b0", floor(col("v") / delta).cast("long"))
        .withColumn("bucket", explode(expr("array(b0 - 1, b0, b0 + 1)")))
      val banded = a.as("a").join(b.as("b"),
          col("a.k") === col("b.k") && col("a.bucket") === col("b.bucket")
            && col("a.id") < col("b.id")
            && abs(col("a.v") - col("b.v")) <= delta)
        .select(col("a.id"), col("b.id"))
      banded.exceptAll(naive).isEmpty && naive.exceptAll(banded).isEmpty
    }

  // random convex lattice polygons in [0,8]²: hull of ≥3 random points
  // (hull edges within the box have deltas ≤ 8, honoring the lattice
  // contract). Pure-JVM property — no Spark session needed.
  private val hullGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(8, Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 8L)))
      .map { pts =>
        val d = pts.distinct
        // Andrew's monotone chain
        val sorted = d.sortBy(p => (p._1, p._2))
        def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)) =
          (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
        def half(ps: List[(Long, Long)]) =
          ps.foldLeft(List.empty[(Long, Long)]) { (h, p) =>
            var hh = h
            while (hh.size >= 2 && cross(hh(1), hh.head, p) <= 0) hh = hh.tail
            p :: hh
          }
        val lower = half(sorted).reverse.dropRight(1)
        val upper = half(sorted.reverse).reverse.dropRight(1)
        lower ++ upper
      }
      .suchThat(_.size >= 3)

  // ---- round-11 container codecs ----

  property("JPEG: block-constant images round-trip EXACTLY under the fixture quant") =
    forAll(Gen.listOfN(6, Gen.choose(0, 255))) { vals =>
      // 2×3 blocks of 8×8 → 16×24 px; arbitrary u8 block values
      val w = 24; val h = 16
      val px = Array.tabulate(w * h) { i =>
        vals((i / w / 8) * 3 + (i % w) / 8)
      }
      val dec = graft.zonal.Jpeg.decodeGray(graft.zonal.Jpeg.encodeGray(px, w, h))._3
      dec.sameElements(px)
    }

  property("UTM Krüger series: forward∘inverse closes under 0.5 mm") =
    forAll(Gen.choose(200000.0, 800000.0), Gen.choose(100000.0, 9000000.0)) { (e, n) =>
      val (lon, lat) = graft.zonal.Utm.inverse(e, n, 3)
      val (e2, n2) = graft.zonal.Utm.forward(lon, lat, 3)
      math.abs(e2 - e) < 5e-4 && math.abs(n2 - n) < 5e-4
    }

  private val shardGen = for {
    h <- Gen.choose(5, 25)
    w <- Gen.choose(5, 25)
    innerH <- Gen.oneOf(2, 4)
    innerW <- Gen.oneOf(2, 4)
    mult <- Gen.choose(1, 3)
  } yield (h, w, innerH * mult, innerW * mult, innerH, innerW)

  property("Zarr sharded store: write→scan is the identity on random lattices") =
    forAll(shardGen) { case (h, w, sh, sw, ih, iw) =>
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/prop_zarr_shard"
      graft.core.Fs.rmTree(dir)
      graft.zonal.Zarr.writeZarrV3Sharded(dir, h, w, sh, sw, ih, iw)(
        (x, y) => (x * 31 + y * 7) % 100)
      val got = spark.read.format("graft.zonal.ZarrSource").load(dir).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      got.size == h * w && got.forall { case ((x, y), v) =>
        v == ((x * 31 + y * 7) % 100).toDouble
      }
    }

  property("NetCDF classic: write→scan is the identity on random dims/types") =
    forAll(Gen.choose(3, 20), Gen.choose(3, 20), Gen.oneOf(3, 4, 5, 6)) { (h, w, t) =>
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_io/prop_nc.nc"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      graft.zonal.Netcdf.writeNetcdf(p, "v", h, w, t)(
        (x, y, _) => ((x * 13 + y * 17) % 120).toDouble)
      val got = graft.zonal.Netcdf.scanNetcdf(spark, p, "v").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      got.size == h * w && got.forall { case ((x, y), v) =>
        v == ((x * 13 + y * 17) % 120).toDouble
      }
    }

  // r18: the DSv2 chunk-pruning arithmetic under RANDOM windows —
  // every (window, epoch-set) combination must return exactly what the
  // unpruned scan + the same predicate returns (a pruning off-by-one
  // on any chunk boundary surfaces as a lost or phantom cell)
  private val winGen: Gen[(Int, Int, Int, Int, Int, List[Int])] = for {
    x0 <- Gen.choose(-5, 85); dx <- Gen.choose(0, 90)
    y0 <- Gen.choose(-5, 75); dy <- Gen.choose(0, 80)
    t0 <- Gen.choose(0, 4)
    es <- Gen.nonEmptyListOf(Gen.choose(0, 4))
  } yield (x0, x0 + dx, y0, dy + y0, t0, es)

  /** `df` behind an RDD boundary: no filter reaches its scan. */
  private def unpruned(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(df.rdd, df.schema)

  property("DSv2 zarr pruning ≡ unpruned scan under random windows and IN sets") =
    forAll(winGen) { case (x0, x1, y0, y1, t0, es) =>
      import org.apache.spark.sql.functions.col
      val dir = graft.zonal.Zarr.fixture3dDir()
      val pred = col("cell_x").between(x0, x1) &&
        col("cell_y").between(y0, y1) && col("epoch") >= t0 &&
        col("epoch").isin(es.distinct: _*)
      val viaDsv2 = spark.read.format("graft.zonal.ZarrSource").load(dir)
        .filter(pred).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
      // the unpruned reference: the same scan behind an RDD boundary,
      // where no filter pushes down, with the same predicate
      val viaUnpruned = unpruned(spark.read.format("graft.zonal.ZarrSource").load(dir))
        .filter(pred).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
      viaDsv2.sameElements(viaUnpruned)
    }

  property("DSv2 hdf5 pruning ≡ unpruned scan under random 4-axis windows") =
    forAll(winGen) { case (x0, x1, y0, y1, t0, es) =>
      import org.apache.spark.sql.functions.col
      val p = graft.zonal.Hdf5.fixtureCube4dPath()
      val lv = es.head % 4 // one random level equality
      val pred = col("cell_x").between(x0, x1) &&
        col("cell_y").between(y0, y1) && col("epoch") >= (t0 % 3) &&
        col("level") === lv
      val viaDsv2 = spark.read.format("graft.zonal.Hdf5Source")
        .option("var", "v").load(p).filter(pred).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4))).sorted
      val viaUnpruned = unpruned(spark.read.format("graft.zonal.Hdf5Source")
        .option("var", "v").load(p))
        .filter(pred).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4))).sorted
      viaDsv2.sameElements(viaUnpruned)
    }

  property("DSv2 netcdf stripe pruning ≡ unpruned scan under random windows") =
    forAll(winGen) { case (_, _, y0, y1, t0, es) =>
      import org.apache.spark.sql.functions.col
      val p = graft.zonal.Netcdf.epochsFixturePath()
      val pred = col("cell_y").between(y0, y1) && col("epoch") >= (t0 % 3) &&
        col("epoch").isin(es.map(_ % 3).distinct: _*)
      val viaDsv2 = spark.read.format("graft.zonal.NetcdfSource")
        .option("var", "t2m").load(p).filter(pred).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
      val viaDataset = graft.zonal.Netcdf.scanNetcdfEpochs(spark, p, "t2m")
        .select("cell_x", "cell_y", "epoch", "value")
        .filter(pred).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
      viaDsv2.sameElements(viaDataset)
    }

  property("cell_cover: per-cell clipped areas sum EXACTLY to the polygon area") =
    forAll(hullGen) { hull =>
      import graft.ext.CellCover
      val xs = hull.map(_._1).toArray
      val ys = hull.map(_._2).toArray
      // total polygon area numerator: shoelace on the ×L lattice
      val L = CellCover.L
      val total = math.abs(hull.indices.map { i =>
        val j = (i + 1) % hull.size
        xs(i) * L * (ys(j) * L) - xs(j) * L * (ys(i) * L)
      }.sum)
      val summed = (for (cx <- 0L until 8L; cy <- 0L until 8L)
        yield CellCover.ringCover2L2(xs, ys, hull.size, cx, cy)).sum
      summed == total
    }
}
