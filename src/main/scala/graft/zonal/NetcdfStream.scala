package graft.zonal

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.Fs

/** STREAMING DSv2 face, classic-NetCDF twin of [[ZarrMembersTable]]
  * (r18): a LANDING DIRECTORY of per-epoch `.nc` FILES — the
  * one-file-per-period layout — read as a growing cube table through
  * `spark.readStream.format("graft.zonal.NetcdfSource")
  * .option("var", name).load(dir)`:
  *
  *  - members are the directory's regular files in NAME ORDER; the
  *    offset is the count consumed (exactly-once at file granularity;
  *    zero-padded append-only names are the contract — a count offset
  *    cannot see a file sorting INTO the committed prefix; a vanished
  *    committed file refuses loudly);
  *  - each micro-batch plans the new files' rank-2 STRIPES as input
  *    partitions (driver reads only headers, executors range-read
  *    stripe bytes — the batch DSv2 posture), rows tagged `epoch` =
  *    global file ordinal;
  *  - `members_per_batch` caps a batch; Trigger.AvailableNow drains to
  *    the prepared snapshot. The same table BATCH-reads as the full
  *    cube.
  */
final class NetcdfMembersTable(path: String, varName: String,
    membersPerBatch: Int) extends Table with SupportsRead {
  override def name(): String = s"netcdf-members:$path#$varName"
  override def schema(): StructType = NetcdfMembersTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NetcdfMembersScanBuilder(path, varName, membersPerBatch)
}

object NetcdfMembersTable {
  val Schema: StructType = StructType(Seq(
    StructField("cell_x", IntegerType, nullable = false),
    StructField("cell_y", IntegerType, nullable = false),
    StructField("epoch", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Member files under the landing dir, name-sorted — the global
    * epoch order. A member is a regular file with the CDF magic.
    */
  private[zonal] def members(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Fs.fs(p)
    if (!fs.getFileStatus(p).isDirectory) Seq.empty
    else fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
      .filter { st =>
        // per-(path, length) memo — see [[MemberSig]] (r20)
        // the IOException guard sits OUTSIDE the memo (r20 code
        // review): a transient IO failure is "not a member THIS tick",
        // never a cached-forever verdict
        try MemberSig.check(st.getPath.toString, st.getLen) {
          val in = fs.open(st.getPath)
          try {
            val m = new Array[Byte](3)
            in.readFully(0, m)
            m.sameElements("CDF".getBytes)
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
      val m = Netcdf.readMeta(file)
      val v = Netcdf.dataVar(file, m, varName)
      require(v.dimIds.length == 2,
        s"$file: member variables must be rank-2 (y, x) — one epoch per file" +
          s" ('$varName' is rank ${v.dimIds.length})")
      Netcdf.stripes2d(file, m, v, 8)
        .map(r => NetcdfMemberPartition(r, epoch): InputPartition)
    }.toArray
}

final class NetcdfMembersScanBuilder(path: String, varName: String,
    membersPerBatch: Int) extends ScanBuilder {
  override def build(): Scan = new NetcdfMembersScan(path, varName, membersPerBatch)
}

final class NetcdfMembersScan(path: String, varName: String,
    membersPerBatch: Int) extends Scan with Batch {
  override def readSchema(): StructType = NetcdfMembersTable.Schema
  override def description(): String = s"graft-netcdf-members $path#$varName"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    NetcdfMembersTable.memberPartitions(path, varName,
      NetcdfMembersTable.members(path).zipWithIndex)
  override def createReaderFactory(): PartitionReaderFactory =
    NetcdfMemberReaderFactory
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new NetcdfMembersStream(path, varName, membersPerBatch)
}

final class NetcdfMembersStream(path: String, varName: String,
    membersPerBatch: Int) extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  @volatile private var availableNowTarget: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = NetcdfMembersTable.members(path).size.toLong

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
      else NetcdfMembersTable.members(path).size.toLong
    val cap = limit match {
      case l: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        s + l.maxFiles()
      case _ => now
    }
    ZarrMemberOffset(math.min(now, cap))
  }
  override def reportLatestOffset(): Offset =
    ZarrMemberOffset(NetcdfMembersTable.members(path).size.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[ZarrMemberOffset].n.toInt,
      end.asInstanceOf[ZarrMemberOffset].n.toInt)
    val names = NetcdfMembersTable.members(path)
    require(e <= names.size,
      s"$path: committed offset $e exceeds the ${names.size} members present " +
        "— a member disappeared; streaming needs an append-only landing dir")
    NetcdfMembersTable.memberPartitions(path, varName,
      (s until e).map(i => (names(i), i)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    NetcdfMemberReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class NetcdfMemberPartition(ref: Netcdf.StripeRef, epoch: Int)
    extends InputPartition

object NetcdfMemberReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[NetcdfMemberPartition]
    new PartitionReader[InternalRow] {
      private val it = Netcdf.readStripe(mp.ref)
      private var cur: (Int, Int, Int, Double) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(4)
        row.update(0, cur._1); row.update(1, cur._2)
        row.update(2, mp.epoch); row.update(3, cur._4)
        row
      }
      override def close(): Unit = ()
    }
  }
}
