package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local session per suite, UTC, small
  * shuffle fan-out (local[8] ≈ test-box cores; never the 200 default),
  * graft's extensions installed. A whole-stage codegen fallback is an
  * error here, so a plan that stops compiling fails the suite instead of
  * running interpreted. `Props` sets the same conf: `newSession()`s take
  * it from whichever of the two starts the context.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    graft.ext.Ext.register(s)
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Chunks planned by the chunked DSv2 faces under `df`'s physical plan:
    * the faces pack their pruned chunks into at most `defaultParallelism`
    * partitions, so a pruning check counts chunks, not partitions.
    */
  def plannedChunks(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        plannedChunks(b.inputPartitions)
    }.sum

  def plannedChunks(parts: Seq[org.apache.spark.sql.connector.read.InputPartition]): Int =
    parts.collect { case p: graft.zonal.PackedPartition => p.chunks.length }.sum

  /** Stage names of each job started on this thread while `body` runs.
    * Listener events arrive asynchronously but in order, so a marker job
    * closes the window.
    */
  def jobStagesDuring(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val tag = s"spark-suite-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => jobs.add((d, e.stageInfos.map(_.name))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      body
      sc.setJobDescription(s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      def seen(d: String) = jobs.iterator.asScala.filter(_._1 == d).map(_._2).toList
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (seen(s"$tag-marker").isEmpty && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen(s"$tag-marker").nonEmpty, "the listener never saw the marker job")
      seen(tag)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
