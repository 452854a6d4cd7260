package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.core.Fs

/** Every file access in `src/main` goes through `graft.core.Fs`: one
  * Hadoop configuration per JVM, parsed once and only ever read. A fresh
  * `Configuration` per read re-parses `core-default.xml`, which costs more
  * than the chunk decode it serves.
  */
class HadoopConfSpec extends SparkSuite {

  /** The ids that open headers, chunks and tiles of each reader family. */
  private val readers = Seq(
    "scan_source_limit_prune", "zonal_netcdf4_4d_stats", "zonal_raster_nad83",
    "sql_cube_ctas", "zonal_geojson", "zonal_shapefile", "zonal_geopackage")

  private def entries(c: Configuration): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  test("the shared configuration is never written by the readers") {
    for (id <- readers)
      SparkEntry.queries(id)(spark.newSession(), sf).write.format("noop").mode("overwrite").save()
    val fresh = entries(new Configuration())
    assert(fresh.nonEmpty, "a fresh Configuration has no entries: the comparison proves nothing")
    val shared = entries(Fs.hadoopConf)
    val diff = (fresh.keySet ++ shared.keySet).toSeq.sorted
      .filter(k => fresh.get(k) != shared.get(k))
      .map(k => s"$k: fresh=${fresh.get(k)} shared=${shared.get(k)}")
    assert(diff.isEmpty, diff.mkString("Fs.hadoopConf differs from a fresh Configuration:\n", "\n", ""))
  }

  test("8 threads reading one range through Fs.fs get identical bytes") {
    val file = java.nio.file.Paths.get(s"$sf/lineitem.parquet")
    val (pos, len) = (4096, 64 * 1024)
    val want = java.util.Arrays.copyOfRange(Files.readAllBytes(file), pos, pos + len)
    val p = new Path(file.toUri)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val reads = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        val in = Fs.fs(p).open(p)
        try {
          val buf = new Array[Byte](len)
          in.readFully(pos.toLong, buf)
          buf
        } finally in.close()
      }))
      start.countDown()
      reads.zipWithIndex.foreach { case (r, i) =>
        assert(java.util.Arrays.equals(r.get(), want), s"thread $i read different bytes")
      }
    } finally pool.shutdown()
  }

  test("source guard: no Hadoop Configuration is constructed in src/main outside core/Fs.scala") {
    val ctor = """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\b""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val hits = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = root.relativize(f).toString
      if (rel == "graft/core/Fs.scala") Nil
      else Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if ctor.findFirstIn(line).isDefined &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          s"src/main/scala/$rel:${i + 1}: ${line.trim}"
      }
    }.toList
    assert(hits.isEmpty, hits.mkString(
      "Hadoop Configuration built per call (use graft.core.Fs.fs / Fs.hadoopConf):\n", "\n", ""))
  }
}
