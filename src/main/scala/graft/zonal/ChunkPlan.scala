package graft.zonal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

/** Partition planning shared by the chunked DSv2 read faces
  * ([[TiffSource]], [[ZarrSource]], [[Hdf5Source]], [[NetcdfSource]]).
  *
  * A face prunes its chunk manifest to `(chunk, in-bounds cells)` pairs
  * in manifest order. The plan keeps the shortest prefix that covers a
  * pushed LIMIT (`limit < 0`: no limit), then packs the kept chunks into
  * at most `defaultParallelism` contiguous [[PackedPartition]]s: a
  * 27-chunk cube on 4 cores runs as 4 tasks, not 27, and the row order
  * of the concatenated partitions is still manifest order. One plan per
  * scan; `chunks` is the chunk count of its last planning (-1 before).
  */
private[graft] final class ChunkPlan(limit: Int) {
  @volatile private var planned = -1

  def chunks: Int = planned

  /** The shortest prefix covering the limit, plus ONE chunk of slack:
    * pruning-only insurance (never a correctness lever) against any
    * geometry-count drift on an exact-boundary prefix.
    */
  def prefix[P](ps: Seq[(P, Long)]): Seq[(P, Long)] =
    if (limit < 0) ps
    else {
      var acc = 0L
      var slack = 1
      ps.takeWhile { case (_, n) =>
        val keep = acc < limit || { val k = slack > 0; slack -= 1; k }
        acc += n; keep
      }
    }

  def partitions(ps: Seq[(InputPartition, Long)]): Array[InputPartition] = {
    val kept = prefix(ps).map(_._1).toIndexedSeq
    val n = kept.size
    planned = n
    val k = math.min(n, SparkSession.active.sparkContext.defaultParallelism)
    Array.tabulate[InputPartition](k)(i => PackedPartition(
      kept.slice(ChunkPlan.cut(i, n, k), ChunkPlan.cut(i + 1, n, k)).toArray))
  }

  /** For a scan's `description()`: the planned chunk count, once known. */
  override def toString: String = if (planned < 0) "" else s" chunks=$planned"
}

private[graft] object ChunkPlan {
  /** Start of packed partition `i` of `k` over `n` chunks, in Long:
    * `i * n` passes Int range already at 4,096 partitions over 2M chunks.
    */
  def cut(i: Int, n: Int, k: Int): Int = (i.toLong * n / k).toInt
}

/** A contiguous run of a face's chunk partitions, read as one task. */
final case class PackedPartition(chunks: Array[InputPartition]) extends InputPartition

/** Wraps a face's per-chunk reader factory: a packed partition's reader
  * opens the chunks' readers one after the other and closes each one as
  * soon as it is drained.
  */
final class PackedReaderFactory(chunk: PartitionReaderFactory) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rest = p.asInstanceOf[PackedPartition].chunks.iterator
      private var cur: PartitionReader[InternalRow] = _
      override def next(): Boolean = {
        var more = cur != null && cur.next()
        while (!more && rest.hasNext) {
          close()
          cur = chunk.createReader(rest.next())
          more = cur.next()
        }
        if (!more) close()
        more
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
}
