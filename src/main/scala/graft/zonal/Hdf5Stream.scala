package graft.zonal

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.Fs

/** STREAMING DSv2 face, netCDF-4/HDF5 twin of [[NetcdfMembersTable]]
  * and [[ZarrMembersTable]] (r19 — VERDICT r18 next-#8): a LANDING
  * DIRECTORY of per-epoch `.nc`/`.h5` FILES read as a growing cube
  * through `spark.readStream.format("graft.zonal.Hdf5Source")
  * .option("var", name).load(dir)`:
  *
  *  - members are the directory's regular files in NAME ORDER with the
  *    HDF5 superblock signature; the offset is the count consumed
  *    (exactly-once at file granularity; zero-padded append-only names
  *    are the contract — a count offset cannot see a file sorting INTO
  *    the committed prefix; a vanished committed file refuses loudly);
  *  - each micro-batch plans the new files' rank-2 CHUNKS as input
  *    partitions (driver walks only superblock → B-tree manifests,
  *    executors read exactly their chunk's bytes — the decode path the
  *    batch scan uses), rows tagged `epoch` = global file ordinal;
  *  - `members_per_batch` caps a batch; Trigger.AvailableNow drains to
  *    the prepared snapshot. The same table BATCH-reads as the cube.
  */
final class Hdf5MembersTable(path: String, varName: String,
    membersPerBatch: Int) extends Table with SupportsRead {
  override def name(): String = s"hdf5-members:$path#$varName"
  override def schema(): StructType = Hdf5MembersTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Hdf5MembersScanBuilder(path, varName, membersPerBatch)
}

object Hdf5MembersTable {
  val Schema: StructType = StructType(Seq(
    StructField("cell_x", IntegerType, nullable = false),
    StructField("cell_y", IntegerType, nullable = false),
    StructField("epoch", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private val Magic: Array[Byte] =
    Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
      '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte)

  /** Member files under the landing dir, name-sorted — the global
    * epoch order. A member is a regular file with the HDF5 signature;
    * verdicts memoize per (path, length) — see [[MemberSig]].
    */
  private[zonal] def members(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Fs.fs(p)
    if (!fs.getFileStatus(p).isDirectory) Seq.empty
    else fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
      .filter { st =>
        // the IOException guard sits OUTSIDE the memo (r20 code
        // review): a transient IO failure is "not a member THIS tick",
        // never a cached-forever verdict
        try MemberSig.check(st.getPath.toString, st.getLen) {
          val in = fs.open(st.getPath)
          try {
            val m = new Array[Byte](8)
            in.readFully(0, m)
            m.sameElements(Magic)
          } finally in.close()
        } catch { case _: java.io.IOException => false }
      }.map(_.getPath.getName).toSeq
  }

  private[zonal] def isMemberDir(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Fs.fs(p)
    fs.exists(p) && fs.getFileStatus(p).isDirectory && members(path).nonEmpty
  }

  private[zonal] def memberPartitions(path: String, varName: String,
      names: Seq[(String, Int)]): Array[InputPartition] =
    names.flatMap { case (name, epoch) =>
      val file = s"$path/$name"
      val m = Hdf5.readMeta(file, varName)
      require(m.epochs == 0 && m.levels == 0,
        s"$file: member variables must be rank-2 (y, x) — one epoch per file")
      Hdf5.chunkRefs(file, m)
        .map(r => Hdf5MemberPartition(r, epoch): InputPartition)
    }.toArray
}

final class Hdf5MembersScanBuilder(path: String, varName: String,
    membersPerBatch: Int) extends ScanBuilder {
  override def build(): Scan = new Hdf5MembersScan(path, varName, membersPerBatch)
}

final class Hdf5MembersScan(path: String, varName: String,
    membersPerBatch: Int) extends Scan with Batch {
  override def readSchema(): StructType = Hdf5MembersTable.Schema
  override def description(): String = s"graft-hdf5-members $path#$varName"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Hdf5MembersTable.memberPartitions(path, varName,
      Hdf5MembersTable.members(path).zipWithIndex)
  override def createReaderFactory(): PartitionReaderFactory =
    Hdf5MemberReaderFactory
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new Hdf5MembersStream(path, varName, membersPerBatch)
}

final class Hdf5MembersStream(path: String, varName: String,
    membersPerBatch: Int) extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  @volatile private var availableNowTarget: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Hdf5MembersTable.members(path).size.toLong

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
      else Hdf5MembersTable.members(path).size.toLong
    val cap = limit match {
      case l: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        s + l.maxFiles()
      case _ => now
    }
    ZarrMemberOffset(math.min(now, cap))
  }
  override def reportLatestOffset(): Offset =
    ZarrMemberOffset(Hdf5MembersTable.members(path).size.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[ZarrMemberOffset].n.toInt,
      end.asInstanceOf[ZarrMemberOffset].n.toInt)
    val names = Hdf5MembersTable.members(path)
    require(e <= names.size,
      s"$path: committed offset $e exceeds the ${names.size} members present " +
        "— a member disappeared; streaming needs an append-only landing dir")
    Hdf5MembersTable.memberPartitions(path, varName,
      (s until e).map(i => (names(i), i)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    Hdf5MemberReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class Hdf5MemberPartition(ref: Hdf5.H5ChunkRef, epoch: Int)
    extends InputPartition

object Hdf5MemberReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[Hdf5MemberPartition]
    new PartitionReader[InternalRow] {
      private val it = Hdf5.readChunk(mp.ref)
      private var cur: (Int, Int, Int, Int, Double) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(4)
        row.update(0, cur._1); row.update(1, cur._2)
        row.update(2, mp.epoch); row.update(3, cur._5)
        row
      }
      override def close(): Unit = ()
    }
  }
}
