package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.core.Fixture

/** The write-once fixture store: one write under contention, nothing
  * published by a failed write, rebuilds keyed by the generation stamp
  * and by the input fingerprint, nested builds, and no session state
  * riding on whichever session happened to build a data-derived entry.
  */
class FixtureSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private val root = new File(System.getProperty("java.io.tmpdir"), "graft_io")

  /** A name no earlier run has stamped. */
  private def fresh(tag: String): String = s"fixturespec_${tag}_${System.nanoTime()}"

  private def tempDir(tag: String): File = {
    root.mkdirs()
    Files.createTempDirectory(root.toPath, s".fixturespec_$tag").toFile
  }

  override def afterAll(): Unit = {
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains("fixturespec_")).foreach(graft.core.Fs.rmTree)
    super.afterAll()
  }

  private def stampOf(path: String): File =
    new File(root, s".fp_${Fixture.Stamp}_${new File(path).getName}")

  private def writeText(p: String, text: String): Unit =
    Files.write(new File(p).toPath, text.getBytes("UTF-8"))

  test("eight threads calling at once cause exactly one write") {
    val name = fresh("race")
    val writes = new AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        Fixture.once(name) { p => writes.incrementAndGet(); Thread.sleep(50); writeText(p, "x") }
      }))
      start.countDown()
      val paths = futures.map(_.get()).toSet
      assert(writes.get == 1, s"${writes.get} writes")
      assert(paths.size == 1 && new File(paths.head).isFile)
      assert(stampOf(paths.head).exists())
    } finally pool.shutdown()
  }

  test("a write that throws publishes nothing; the next call succeeds") {
    val name = fresh("fail")
    val e = intercept[IllegalStateException](Fixture.once(name) { p =>
      new File(p).mkdirs(); writeText(s"$p/half", "x")
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(!new File(root, name).exists(), "final path published")
    assert(!stampOf(name).exists(), "stamp recorded")
    assert(!root.list().exists(f => f.startsWith(".build_") && f.endsWith(name)),
      "temp output left behind")
    val p = Fixture.once(name)(writeText(_, "ok"))
    assert(new String(Files.readAllBytes(new File(p).toPath), "UTF-8") == "ok")
    assert(stampOf(p).exists())
  }

  test("a write that creates nothing throws and records no stamp") {
    val name = fresh("empty")
    val e = intercept[IllegalStateException](Fixture.once(name)(_ => ()))
    assert(e.getMessage.contains("created nothing"), e.getMessage)
    assert(!new File(root, name).exists(), "final path published")
    assert(!stampOf(name).exists(), "stamp recorded")
  }

  test("a stamped entry is reused by a new JVM; a changed stamp rebuilds it") {
    val name = fresh("stamp")
    val writes = new AtomicInteger()
    def build() = Fixture.once(name) { p => writes.incrementAndGet(); writeText(p, "v") }
    val p = build()
    Fixture.forget(name) // what a new JVM sees: the disk, not the memo
    assert(build() == p && writes.get == 1, "stamped entry rewritten")
    // an older generation's stamp: same path, different stamp name
    assert(stampOf(p).renameTo(new File(root, s".fp_older_$name")))
    Fixture.forget(name)
    assert(build() == p && writes.get == 2, "stale-generation entry reused")
    assert(stampOf(p).exists())
  }

  test("touching an input file (new size or new mtime) gives a new entry") {
    val in = tempDir("in")
    val data = new File(in, "t.parquet")
    writeText(data.getPath, "abc")
    val name = fresh("input")
    val writes = new AtomicInteger()
    def build() = Fixture.once(name, Seq(in.getPath)) { p => writes.incrementAndGet(); writeText(p, "v") }
    val p1 = build()
    assert(build() == p1 && writes.get == 1)
    writeText(data.getPath, "abcd") // new size
    data.setLastModified(data.lastModified() - 10000L)
    val p2 = build()
    data.setLastModified(data.lastModified() + 20000L) // same size, new mtime
    val p3 = build()
    assert(Set(p1, p2, p3).size == 3 && writes.get == 3, Seq(p1, p2, p3))
  }

  test("two input dirs with the same basename give two entries") {
    val base = tempDir("base")
    val dirs = Seq("a", "b").map { sub =>
      val d = new File(base, s"$sub/sf"); d.mkdirs()
      val f = new File(d, "t.parquet")
      writeText(f.getPath, "same")
      f.setLastModified(1700000000000L)
      d.getPath
    }
    val name = fresh("basename")
    val paths = dirs.map(d => Fixture.once(name, Seq(d))(writeText(_, d)))
    assert(paths.distinct.size == 2, paths)
    paths.zip(dirs).foreach { case (p, d) =>
      assert(new String(Files.readAllBytes(new File(p).toPath), "UTF-8") == d)
    }
  }

  test("a Fixture.once inside another's write works") {
    val (outer, inner) = (fresh("outer"), fresh("inner"))
    val p = Fixture.once(outer) { po =>
      val pi = Fixture.once(inner)(writeText(_, "in"))
      writeText(po, pi)
    }
    val pi = new String(Files.readAllBytes(new File(p).toPath), "UTF-8")
    assert(pi == new File(root, inner).getPath && new File(pi).isFile)
  }

  test("ids backed by data-derived fixtures give equal results in two fresh sessions") {
    val ids = Seq("zonal_geoparquet", "scan_geoparquet_window",
      "zonal_geojson", "zonal_geojson_snap", "zonal_geojson_multi", "zonal_geojson_props",
      "zonal_geopackage", "zonal_shapefile", "zonal_shapefile_attrs", "zonal_raster_shapefile",
      "zonal_points", "zonal_lines", "zonal_pruned", "scan_parquet_bloom", "scan_zorder_window")
    for (id <- ids) {
      val Seq(first, second) = Seq.fill(2)(
        SparkEntry.queries(id)(spark.newSession(), sf).collect().toSeq)
      assert(first.nonEmpty, s"$id: empty")
      assert(first == second, s"$id: sessions disagree")
    }
  }
}
