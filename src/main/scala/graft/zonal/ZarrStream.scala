package graft.zonal

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.Fs

/** STREAMING DSv2 face (r18): a LANDING DIRECTORY of per-epoch 2-D
  * Zarr member stores — the one-store-per-period layout real ingest
  * produces — read as a growing cube table:
  *
  *  - `spark.readStream.format("graft.zonal.ZarrSource").load(dir)`
  *    where `dir` holds member stores (each its own `.zarray` /
  *    `zarr.json` array) streams them in NAME ORDER; the offset is the
  *    count of members consumed, so recovery from the checkpoint is
  *    exactly-once at member granularity. Members MUST land with
  *    lexicographically increasing names (the zero-padded `part-0003`
  *    convention): the offset stores only a count, so a late member
  *    sorting INTO the committed prefix would shift every later
  *    ordinal and is NOT detectable — that landing pattern is outside
  *    the contract. What IS detected: a committed member vanishing
  *    (the offset exceeding the member count refuses loudly);
  *  - each micro-batch plans the new members' CHUNKS as input
  *    partitions (one task per chunk, executor-side decode — the
  *    batch DSv2 posture), rows tagged `epoch` = global member ordinal;
  *  - admission control: `members_per_batch` (default all-new) caps a
  *    batch the way `maxFilesPerTrigger` does, and Trigger.AvailableNow
  *    drains to the prepared snapshot then stops.
  *
  * The same table also supports BATCH read (the whole directory as of
  * planning time) — `spark.read.format(...).load(dir)` on a member
  * directory returns the full cube.
  */
final class ZarrMembersTable(path: String, membersPerBatch: Int)
    extends Table with SupportsRead {
  override def name(): String = s"zarr-members:$path"
  override def schema(): StructType = ZarrMembersTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrMembersScanBuilder(path, membersPerBatch)
}

object ZarrMembersTable {
  val Schema: StructType = StructType(Seq(
    StructField("cell_x", IntegerType, nullable = false),
    StructField("cell_y", IntegerType, nullable = false),
    StructField("epoch", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Member stores under the landing dir, name-sorted — the global
    * epoch order. A member is a subdirectory carrying an array doc.
    */
  private[zonal] def members(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Fs.fs(p)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).sorted
      .filter { n =>
        // positive-only memo (a store stays a member once its array
        // doc exists) — see [[MemberSig]] (r20)
        MemberSig.checkPositive(new org.apache.hadoop.fs.Path(p, n).toString) {
          fs.exists(new org.apache.hadoop.fs.Path(p, s"$n/.zarray")) ||
          fs.exists(new org.apache.hadoop.fs.Path(p, s"$n/zarr.json"))
        }
      }.toSeq
  }

  /** True when the path is a member LANDING directory rather than a
    * single array store.
    */
  private[zonal] def isMemberDir(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Fs.fs(p)
    !fs.exists(new org.apache.hadoop.fs.Path(p, ".zarray")) &&
    !fs.exists(new org.apache.hadoop.fs.Path(p, "zarr.json")) &&
    members(path).nonEmpty
  }

  private[zonal] def memberPartitions(path: String,
      names: Seq[(String, Int)]): Array[InputPartition] =
    names.flatMap { case (name, epoch) =>
      val dir = s"$path/$name"
      val m = Zarr.readMeta(dir)
      require(!m.rank3 && !m.rank4,
        s"$dir: member stores must be 2-D (y, x) — one epoch per member")
      Zarr.chunkRefs(m, dir).map(r => ZarrMemberPartition(r, epoch): InputPartition)
    }.toArray
}

final class ZarrMembersScanBuilder(path: String, membersPerBatch: Int)
    extends ScanBuilder {
  override def build(): Scan = new ZarrMembersScan(path, membersPerBatch)
}

final class ZarrMembersScan(path: String, membersPerBatch: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = ZarrMembersTable.Schema
  override def description(): String = s"graft-zarr-members $path"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    ZarrMembersTable.memberPartitions(path,
      ZarrMembersTable.members(path).zipWithIndex)
  override def createReaderFactory(): PartitionReaderFactory =
    ZarrMemberReaderFactory
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ZarrMembersStream(path, membersPerBatch)
}

/** Offset = number of members consumed (name order). */
final case class ZarrMemberOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final class ZarrMembersStream(path: String, membersPerBatch: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // AvailableNow drains to THIS snapshot, then the query stops
  @volatile private var availableNowTarget: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = ZarrMembersTable.members(path).size.toLong

  override def initialOffset(): Offset = ZarrMemberOffset(0L)
  override def deserializeOffset(json: String): Offset =
    ZarrMemberOffset(json.trim.toLong)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-controlled path")
  override def getDefaultReadLimit: ReadLimit =
    if (membersPerBatch > 0) ReadLimit.maxFiles(membersPerBatch)
    else ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ZarrMemberOffset].n
    val now =
      if (availableNowTarget >= 0) availableNowTarget
      else ZarrMembersTable.members(path).size.toLong
    val cap = limit match {
      case l: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        s + l.maxFiles()
      case _ => now
    }
    ZarrMemberOffset(math.min(now, cap))
  }
  override def reportLatestOffset(): Offset =
    ZarrMemberOffset(ZarrMembersTable.members(path).size.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[ZarrMemberOffset].n.toInt,
      end.asInstanceOf[ZarrMemberOffset].n.toInt)
    val names = ZarrMembersTable.members(path)
    require(e <= names.size,
      s"$path: committed offset $e exceeds the ${names.size} members present " +
        "— a member disappeared; streaming needs an append-only landing dir")
    ZarrMembersTable.memberPartitions(path,
      (s until e).map(i => (names(i), i)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ZarrMemberReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class ZarrMemberPartition(ref: Zarr.ChunkRef, epoch: Int)
    extends InputPartition

object ZarrMemberReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[ZarrMemberPartition]
    new PartitionReader[InternalRow] {
      private val it = Zarr.readChunk(mp.ref)
      private var cur: (Int, Int, Double) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(4)
        row.update(0, cur._1); row.update(1, cur._2)
        row.update(2, mp.epoch); row.update(3, cur._3)
        row
      }
      override def close(): Unit = ()
    }
  }
}
