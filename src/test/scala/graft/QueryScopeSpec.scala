package graft

import java.nio.file.Files

/** No query result outlives its query: a query's persisted RDDs (edge
  * pins, polygonize checkpoints, codebook training) become unreachable
  * once its frame is dropped, and no static map in `src/main` is keyed by
  * a `SparkSession`. Sessions from `newSession()` share one context, so
  * a session-keyed map evicting on `sparkContext.isStopped` never
  * evicts, and everything it holds stays reachable.
  */
class QueryScopeSpec extends SparkSuite {

  /** The ids that build on near pairs, n-gram candidates, text clusters,
    * the IVF/PQ tables or the polygonize pipeline.
    */
  private val consumers = Seq(
    "dedup_embedding", "dedup_cluster", "sim_pairs_threshold",
    "dedup_ngram_jaccard", "dedup_text_cluster", "pipeline_dedup_keep_best",
    "sim_pq_codes", "sim_pq_search", "sim_ann_ivfpq_search", "dedup_embedding_pq",
    "sim_ann_ivf", "sim_ann_ivf_search", "sim_ann_ivf_multiprobe",
    "raster_polygonize", "raster_polygonize_geojson")

  /** A copy of the ids: the map's `keySet` view would hold the RDDs. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** Runs `id` to the `noop` sink in a fresh session; returns the ids of
    * the RDDs it left persisted while its frame was still reachable.
    */
  private def runOnce(id: String, before: Set[Int]): Set[Int] = {
    val df = SparkEntry.queries(id)(spark.newSession(), sf)
    df.write.format("noop").mode("overwrite").save()
    persisted -- before
  }

  test("no persisted RDD outlives its query: each consumer in a fresh session") {
    var pinned = 0
    for (id <- consumers) {
      val before = persisted
      pinned += runOnce(id, before).size
      // the context's persistent-RDD map holds weak values
      var left = persisted -- before
      var i = 0
      while (left.nonEmpty && i < 40) {
        System.gc()
        Thread.sleep(50)
        left = persisted -- before
        i += 1
      }
      assert(left.isEmpty, s"$id: persisted RDDs still reachable after the query " +
        s"and ${i} GCs: ${left.toSeq.sorted.mkString(", ")}")
    }
    // the CC edge pins and polygonize checkpoints persist while a query runs
    assert(pinned > 0, "no consumer persisted an RDD: the check above proves nothing")
  }

  test("source guard: no static map in src/main is keyed by SparkSession") {
    val keyed = """\w*Map\[\s*(\([^)]*SparkSession|[\w.]*SparkSession\b)""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val hits = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = root.relativize(f).toString
      val text = Files.readString(f)
      keyed.findAllMatchIn(text).flatMap { m =>
        val lineNo = text.substring(0, m.start).count(_ == '\n') + 1
        val line = text.linesIterator.drop(lineNo - 1).next().trim
        if (line.startsWith("*") || line.startsWith("//")) None
        else Some(s"src/main/scala/$rel:$lineNo: $line")
      }
    }.toList
    assert(hits.isEmpty, hits.mkString(
      "static map keyed by SparkSession (newSession()s share a context, so isStopped " +
        "eviction never fires; build per query or use core.Fixture.once):\n", "\n", ""))
  }
}
