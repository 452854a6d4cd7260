package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Q

/** Times the full result of registry queries. One client, one query at a
  * time, each execution in a fresh `newSession()` of one shared
  * `local[cores]` context. The timed region covers `Q.build` (which may
  * run Spark jobs eagerly) and writing the returned frame to the `noop`
  * sink.
  *
  * Passes: one cold pass, then warm passes until there are at least
  * `--min-passes` of them and `--seconds` have been spent on them; with
  * `--trace 1` the warm passes alternate between untraced and traced, and
  * traced executions carry layer counters. Every pass runs the ids in one
  * order shuffled from `--seed`. The `--probes` ids then run twice,
  * untimed, so known failures stay visible. Last, each timed id's result
  * is written once more as parquet (with the oracle SQL) for the DuckDB
  * check, unless `--check-dir` is not given. Everything goes to `--out`
  * as JSON; the statistics are computed by `perfbench/metrics.py`.
  */
object Harness {
  val PhaseProp = "perfbench.phase"
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Conf(sfDir: String, ids: Seq[String], seed: Long, seconds: Double, trace: Boolean,
      cores: Int, minPasses: Int, out: String, checkDir: String, traceOut: String, probes: Seq[String])

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Conf(m("sf-dir"), list("ids"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("cores").toInt, m("min-passes").toInt, m("out"), m.getOrElse("check-dir", ""),
      m.getOrElse("trace-out", ""), list("probes"))
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Generic warm-up: one shuffle with a broadcast join and a parquet
    * round trip, so the first query does not pay for starting the task
    * threads. It touches none of the program's code.
    */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val r = spark.range(100000).selectExpr("id", "id % 100 AS k")
    val dim = spark.range(100).selectExpr("id AS k", "id % 5 AS v")
    r.join(broadcast(dim), "k").groupBy("v").count().collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/perfbench_warm"
    r.limit(1000).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).selectExpr("max(id)").collect()
  }

  /** Starts the context and runs the warm-up. Returns the live session and
    * the seconds from JVM start until it is ready, which includes loading
    * Spark's and the program's classes (the registry is read before this).
    */
  def setUp(cores: Int): (SparkSession, Double) = {
    val spark = session(cores)
    warmUp(spark)
    (spark, (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
  }

  final case class Exec(id: String, pass: Int, traced: Boolean, ok: Boolean, buildS: Double,
      actionS: Double, error: String, layers: Map[String, Double])

  final class Runner(root: SparkSession, sfDir: String, tracer: Option[Tracer],
      fallbacks: Option[CodegenFallbacks]) {
    private val sc = root.sparkContext
    val spans = mutable.ArrayBuffer.empty[Span]

    def run(id: String, q: Q, pass: Int, traced: Boolean): Exec = {
      val s = root.newSession()
      val tr = if (traced) tracer else None
      tr.foreach(_.attach(s))
      val trace = tr.map(_.begin(s"$id#$pass"))
      def fb = fallbacks.map(_.count.get).getOrElse(0L)
      val fb0 = fb
      sc.setLocalProperty(PhaseProp, "build")
      val w0 = System.currentTimeMillis()
      var t0 = System.nanoTime()
      var buildS, actionS = 0.0
      var w1, w2 = w0
      val error = try {
        val df = q.build(s, sfDir)
        buildS = (System.nanoTime() - t0) / 1e9
        w1 = System.currentTimeMillis()
        // the returned frame is analyzed eagerly when `Q.build` creates it
        trace.foreach(_.add("catalyst.analysis_s", Tracer.phaseS(df.queryExecution, "analysis")))
        if (traced) BusDrain(sc)
        trace.foreach(_.phase = "action")
        sc.setLocalProperty(PhaseProp, "action")
        w2 = System.currentTimeMillis()
        t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        actionS = (System.nanoTime() - t0) / 1e9
        null
      } catch {
        case NonFatal(e) => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      } finally sc.setLocalProperty(PhaseProp, null)
      val w3 = System.currentTimeMillis()
      val layers = trace.map { t =>
        BusDrain(sc)
        tr.foreach { t => t.end(); t.detach(s) }
        t.add("build.s", buildS)
        t.add("exec.s", actionS)
        t.add("catalyst.codegen_fallbacks", (fb - fb0).toDouble)
        val exec = t.exec
        spans += Span(exec, "query", exec, "", w0, w3)
        spans += Span(exec, "build", s"$exec/build", exec, w0, w1)
        if (error == null) spans += Span(exec, "action", s"$exec/action", exec, w2, w3)
        spans ++= t.spans.map(sp => if (sp.kind == "job") sp.copy(parent = s"$exec/${sp.parent}") else sp)
        t.counts.toMap
      }.getOrElse(Map.empty)
      Exec(id, pass, traced, error == null, buildS, actionS, error, layers)
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val registry = SparkEntry.registry.toMap
    val missing = (conf.ids ++ conf.probes).filterNot(registry.contains)
    require(missing.isEmpty, s"unknown query ids: ${missing.mkString(", ")}")

    val (spark, setupS) = setUp(conf.cores)
    val tracer = if (conf.trace) Some(new Tracer) else None
    tracer.foreach(t => spark.sparkContext.addSparkListener(t.tasks))
    val fallbacks = if (conf.trace) Some(CodegenFallbacks.attach()) else None
    val runner = new Runner(spark, conf.sfDir, tracer, fallbacks)

    val execs = mutable.ArrayBuffer.empty[Exec]
    val order = new Random(conf.seed).shuffle(conf.ids)
    def pass(n: Int, traced: Boolean): Unit =
      order.foreach(id => execs += runner.run(id, registry(id), n, traced))
    val gc0 = gcSeconds()
    pass(0, traced = false)
    val warm0 = System.nanoTime()
    var n = 1
    // traced runs alternate untraced and traced warm passes
    while (n <= conf.minPasses || (System.nanoTime() - warm0) / 1e9 < conf.seconds) {
      pass(n, traced = conf.trace && n % 2 == 0)
      n += 1
    }
    val gcS = gcSeconds() - gc0

    val probes = conf.probes.map { id =>
      id -> (1 to 2).map(i => Option(runner.run(id, registry(id), -i, traced = false).error).getOrElse("ok"))
    }.toMap

    val checked = if (conf.checkDir.isEmpty) Map.empty[String, String] else writeResults(spark, conf, registry)
    if (conf.traceOut.nonEmpty)
      Files.write(Paths.get(conf.traceOut), runner.spans.map(json.writeValueAsString).asJava, UTF_8)

    val result = Map(
      "setup_s" -> setupS,
      "passes" -> n,
      "execs" -> execs.map(e => Map("id" -> e.id, "pass" -> e.pass, "traced" -> e.traced, "ok" -> e.ok,
        "build_s" -> e.buildS, "action_s" -> e.actionS, "error" -> e.error, "layers" -> e.layers)).toSeq,
      "probes" -> probes,
      "check_errors" -> checked,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb(), "peak_rss_mb" -> peakRssMb()))
    Files.writeString(Paths.get(conf.out), json.writeValueAsString(result))
    spark.stop()
  }

  /** Writes each id's result as one parquet file, plus `oracle_sql.json`,
    * in the layout `tools/check.py` reads. Returns the ids that failed.
    */
  def writeResults(root: SparkSession, conf: Conf, registry: Map[String, Q]): Map[String, String] = {
    new File(conf.checkDir).mkdirs()
    val errors = conf.ids.flatMap { id =>
      try {
        registry(id).build(root.newSession(), conf.sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"${conf.checkDir}/$id")
        None
      } catch { case NonFatal(e) => Some(id -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }.toMap
    val oracles = conf.ids.flatMap(id => registry(id).oracle.map(id -> _)).toMap
    Files.writeString(Paths.get(s"${conf.checkDir}/oracle_sql.json"), json.writeValueAsString(oracles))
    errors
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
