package graft

import org.apache.spark.sql.functions._

/** The single-file cube DSv2 WRITE faces (r19): classic NetCDF
  * (`graft.zonal.NetcdfSource`, per-stripe slab staging) and
  * netCDF-4/HDF5 (`graft.zonal.Hdf5Source`, per-chunk deflate
  * staging). Tasks stage final bytes; the commit merges split
  * fragments only, streams header + parts in order, installs by
  * atomic rename. Append refuses (single-file containers).
  */
class CubeWriteSpec extends SparkSuite {
  import spark.implicits._

  private val tmp = System.getProperty("java.io.tmpdir")

  private def grid(w: Int, h: Int) =
    (0 until w).flatMap(x => (0 until h).map(y =>
      (x, y, ((7 * x + 11 * y) % 101).toDouble)))
      .toDF("cell_x", "cell_y", "value")

  private def msgs(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("netcdf: stripe-aligned write merges nothing and reads back exactly (both faces)") {
    val path = s"$tmp/graft_io/ncw_aligned.nc"
    val (w, h, st) = (40, 24, 16) // 2 stripes, bottom one partial (8 rows)
    grid(w, h)
      .repartition(expr(s"cell_y div $st"))
      .write.format("graft.zonal.NetcdfSource")
      .option("height", h).option("width", w).option("stripe", st)
      .mode("overwrite").save(path)
    assert(graft.zonal.NetcdfWrite.lastCommit == (2, 0),
      s"want (2 stripes, 0 merges), got ${graft.zonal.NetcdfWrite.lastCommit}")
    // DSv2 read-back AND the legacy scanner agree with the formula
    val back = spark.read.format("graft.zonal.NetcdfSource")
      .option("var", "v").load(path)
    assert(back.count() == w.toLong * h)
    assert(back.filter(
      col("value") =!= (col("cell_x") * 7 + col("cell_y") * 11) % 101).count() == 0)
    val legacy = graft.zonal.Netcdf.scanNetcdf(spark, path, "v")
    assert(legacy.count() == w.toLong * h)
  }

  test("netcdf: scattered partitioning writes exactly via slab merge; zero-fill for absent stripes") {
    val path = s"$tmp/graft_io/ncw_split.nc"
    val (w, h, st) = (40, 48, 16)
    // only the top stripe and the bottom stripe get data (middle absent)
    grid(w, h).filter($"cell_y" < 16 || $"cell_y" >= 32).repartition(8)
      .write.format("graft.zonal.NetcdfSource")
      .option("height", h).option("width", w).option("stripe", st)
      .mode("overwrite").save(path)
    val (n, merged) = graft.zonal.NetcdfWrite.lastCommit
    assert(n == 2 && merged > 0,
      s"scattered input must exercise the merge path, got ($n, $merged)")
    val back = spark.read.format("graft.zonal.NetcdfSource")
      .option("var", "v").load(path)
    assert(back.count() == w.toLong * h, "the absent middle stripe must zero-fill")
    assert(back.filter($"cell_y" >= 16 && $"cell_y" < 32)
      .filter($"value" =!= 0.0).count() == 0)
    assert(back.filter($"cell_y" < 16)
      .filter(col("value") =!= (col("cell_x") * 7 + col("cell_y") * 11) % 101)
      .count() == 0)
  }

  test("hdf5: chunk-aligned write merges nothing; deflate blobs read back through both faces") {
    val path = s"$tmp/graft_io/h5w_aligned.nc"
    val (w, h) = (40, 24) // 3x2 chunk grid at 16x16, edges padded
    grid(w, h)
      .repartition(expr("cell_y div 16"), expr("cell_x div 16"))
      .write.format("graft.zonal.Hdf5Source")
      .option("height", h).option("width", w).option("chunk", "16,16")
      .mode("overwrite").save(path)
    assert(graft.zonal.H5Write.lastCommit == (6, 0),
      s"want (6 chunks, 0 merges), got ${graft.zonal.H5Write.lastCommit}")
    val back = spark.read.format("graft.zonal.Hdf5Source")
      .option("var", "v").load(path)
    assert(back.count() == w.toLong * h, "pad cells must clip on read")
    assert(back.filter(
      col("value") =!= (col("cell_x") * 7 + col("cell_y") * 11) % 101).count() == 0)
    assert(back.select("value").collect().length == w.toLong * h,
      "decoded values cover the grid")
  }

  test("hdf5: scattered partitioning writes exactly via inflate-merge-redeflate") {
    val path = s"$tmp/graft_io/h5w_split.nc"
    val (w, h) = (40, 24)
    grid(w, h).repartition(8)
      .write.format("graft.zonal.Hdf5Source")
      .option("height", h).option("width", w).option("chunk", "16,16")
      .mode("overwrite").save(path)
    val (n, merged) = graft.zonal.H5Write.lastCommit
    assert(n == 6 && merged > 0,
      s"scattered input must exercise the merge path, got ($n, $merged)")
    val back = spark.read.format("graft.zonal.Hdf5Source")
      .option("var", "v").load(path)
    assert(back.count() == w.toLong * h)
    assert(back.filter(
      col("value") =!= (col("cell_x") * 7 + col("cell_y") * 11) % 101).count() == 0)
  }

  test("hdf5 rank-3: chunk-aligned cube write, scattered merge, epoch guard") {
    val path = s"$tmp/graft_io/h5w_3d.nc"
    val (w, h, t, cs, ct) = (40, 24, 5, 16, 2)
    val cube = (0 until w).flatMap(x => (0 until h).flatMap(y => (0 until t).map(e =>
      (x, y, e, ((7 * x + 11 * y + 13 * e) % 101).toDouble))))
      .toDF("cell_x", "cell_y", "epoch", "value")
    cube.repartition(expr(s"epoch div $ct"), expr(s"cell_y div $cs"),
        expr(s"cell_x div $cs"))
      .write.format("graft.zonal.Hdf5Source")
      .option("height", h).option("width", w).option("epochs", t)
      .option("chunk", s"$ct,$cs,$cs")
      .mode("overwrite").save(path)
    // 40x24x5 at 2x16x16 chunks -> 3 t-chunks x 2 x 3 = 18, zero merges
    assert(graft.zonal.H5Write.lastCommit == (18, 0),
      s"want (18, 0), got ${graft.zonal.H5Write.lastCommit}")
    val back = spark.read.format("graft.zonal.Hdf5Source")
      .option("var", "v").load(path)
    assert(back.count() == w.toLong * h * t)
    assert(back.filter(col("value") =!=
      (col("cell_x") * 7 + col("cell_y") * 11 + col("epoch") * 13) % 101).count() == 0)
    // scattered rank-3 input still exact via merge
    cube.repartition(8)
      .write.format("graft.zonal.Hdf5Source")
      .option("height", h).option("width", w).option("epochs", t)
      .option("chunk", s"$ct,$cs,$cs")
      .mode("overwrite").save(path)
    assert(graft.zonal.H5Write.lastCommit._1 == 18
      && graft.zonal.H5Write.lastCommit._2 > 0)
    val back2 = spark.read.format("graft.zonal.Hdf5Source")
      .option("var", "v").load(path)
    assert(back2.count() == w.toLong * h * t)
    assert(back2.filter(col("value") =!=
      (col("cell_x") * 7 + col("cell_y") * 11 + col("epoch") * 13) % 101).count() == 0)
    // an out-of-cube epoch refuses loudly
    val e = intercept[Throwable] {
      Seq((0, 0, 9, 1.0)).toDF("cell_x", "cell_y", "epoch", "value")
        .write.format("graft.zonal.Hdf5Source")
        .option("height", 8).option("width", 8).option("epochs", 2)
        .option("chunk", "1,8,8").mode("overwrite").save(s"$tmp/graft_io/h5w_3d_bad.nc")
    }
    assert(msgs(e).contains("epoch"), msgs(e))
  }

  test("append refuses on both single-file faces; guards refuse loudly") {
    val nc = s"$tmp/graft_io/ncw_append.nc"
    grid(8, 8).write.format("graft.zonal.NetcdfSource")
      .option("height", 8).option("width", 8)
      .mode("overwrite").save(nc)
    val ncApp = intercept[Throwable] {
      grid(8, 8).write.format("graft.zonal.NetcdfSource")
        .option("height", 8).option("width", 8)
        .mode("append").save(nc)
    }
    assert(msgs(ncApp).contains("one flat file"), msgs(ncApp))
    val h5App = intercept[Throwable] {
      grid(8, 8).write.format("graft.zonal.Hdf5Source")
        .option("height", 8).option("width", 8)
        .mode("append").save(s"$tmp/graft_io/h5w_append.nc")
    }
    assert(msgs(h5App).contains("one flat file"), msgs(h5App))
    // out-of-grid
    val oob = intercept[Throwable] {
      Seq((99, 0, 1.0)).toDF("cell_x", "cell_y", "value")
        .write.format("graft.zonal.NetcdfSource")
        .option("height", 8).option("width", 8)
        .mode("overwrite").save(s"$tmp/graft_io/ncw_oob.nc")
    }
    assert(msgs(oob).contains("outside"), msgs(oob))
    // duplicate cells split across partitions -> merge-time conflict
    val dup = intercept[Throwable] {
      Seq((1, 1, 1.0), (1, 1, 2.0)).toDF("cell_x", "cell_y", "value")
        .repartition(8, col("value"))
        .write.format("graft.zonal.Hdf5Source")
        .option("height", 8).option("width", 8).option("chunk", "8,8")
        .mode("overwrite").save(s"$tmp/graft_io/h5w_dup.nc")
    }
    assert(msgs(dup).contains("two partitions"), msgs(dup))
    // missing column
    val miss = intercept[Throwable] {
      Seq((1, 1.0)).toDF("cell_x", "value")
        .write.format("graft.zonal.NetcdfSource")
        .option("height", 8).option("width", 8)
        .mode("overwrite").save(s"$tmp/graft_io/ncw_miss.nc")
    }
    assert(msgs(miss).contains("cell_y"), msgs(miss))
  }

  test("registry ops: per-stripe / per-chunk totals match the cells table") {
    for ((id, key) <- Seq("sink_netcdf_dsv2" -> 1, "sink_netcdf4_dsv2" -> 2)) {
      val r = q(id).collect()
      assert(r.nonEmpty, id)
      assert(r.map(_.getLong(key)).sum ==
        graft.zonal.Cube.cells(spark, sf)
          .select("cell_x", "cell_y").distinct().count(), id)
    }
    assert(graft.zonal.NetcdfWrite.lastCommit._2 == 0,
      "stripe-aligned registry write must not merge")
    assert(graft.zonal.H5Write.lastCommit._2 == 0,
      "chunk-aligned registry write must not merge")
  }
}
