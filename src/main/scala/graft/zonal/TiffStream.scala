package graft.zonal

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.Fs

/** STREAMING DSv2 face, GeoTIFF twin of [[NetcdfMembersTable]],
  * [[ZarrMembersTable]] and [[Hdf5MembersTable]] (r19 — completing the
  * landing-directory QUARTET): a directory where per-epoch SCENES land
  * as single-band `.tif` files — the satellite-ingest shape — read as
  * a growing cube through
  * `spark.readStream.format("graft.zonal.TiffSource").load(dir)`:
  *
  *  - members are the directory's regular files in NAME ORDER bearing
  *    the TIFF magic (II*\0 or MM\0*); the offset is the count
  *    consumed (exactly-once at file granularity; zero-padded
  *    append-only names are the contract — a count offset cannot see
  *    a file sorting INTO the committed prefix; a vanished committed
  *    member refuses loudly);
  *  - each micro-batch plans the new scenes' TILES as input partitions
  *    (driver reads only IFD headers, executors decode exactly their
  *    tile's bytes — the batch scanner's decode), rows tagged
  *    `epoch` = global file ordinal;
  *  - `members_per_batch` caps a batch; Trigger.AvailableNow drains to
  *    the prepared snapshot. The same directory BATCH-reads as the
  *    full scene stack. A directory carrying the `_tile_stats` sidecar
  *    is the MOSAIC face instead (one shared lattice, no epochs) —
  *    the sidecar decides, not the file count.
  */
final class TiffMembersTable(path: String, membersPerBatch: Int)
    extends Table with SupportsRead {
  override def name(): String = s"tiff-members:$path"
  override def schema(): StructType = TiffMembersTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TiffMembersScanBuilder(path, membersPerBatch)
}

object TiffMembersTable {
  val Schema: StructType = StructType(Seq(
    StructField("cell_x", IntegerType, nullable = false),
    StructField("cell_y", IntegerType, nullable = false),
    StructField("epoch", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  // CLASSIC TIFF only, both byte orders (r20 — ADVICE r19: version 43
  // is BigTIFF, which the classic reader does not parse; admitting a
  // BigTIFF member here only moved the failure into the micro-batch —
  // filter it out like any other non-member instead)
  private def isTiffMagic(m: Array[Byte]): Boolean =
    (m(0) == 'I' && m(1) == 'I' && m(2) == 42 && m(3) == 0) ||
    (m(0) == 'M' && m(1) == 'M' && m(2) == 0 && m(3) == 42)

  /** Member files under the landing dir, name-sorted — the global
    * epoch order. A member is a regular file with the classic TIFF
    * magic; verdicts memoize per (path, length) — see [[MemberSig]].
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
            val m = new Array[Byte](4)
            in.readFully(0, m)
            isTiffMagic(m)
          } finally in.close()
        } catch { case _: java.io.IOException => false }
      }.map(_.getPath.getName).toSeq
  }

  /** A landing directory: TIFF members present and NO `_tile_stats`
    * sidecar (the sidecar is the mosaic face's marker).
    */
  private[zonal] def isMemberDir(path: String): Boolean = {
    if (path == null || path.isEmpty) false
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = Fs.fs(p)
      fs.exists(p) && fs.getFileStatus(p).isDirectory &&
        !TiffSource.isMosaic(path) && members(path).nonEmpty
    }
  }

  private[zonal] def memberPartitions(path: String,
      names: Seq[(String, Int)]): Array[InputPartition] =
    names.flatMap { case (name, epoch) =>
      val file = s"$path/$name"
      val m = Raster.readMeta(file)
      require(m.bands == 1,
        s"$file: landing-directory members must be single-band scenes " +
          s"(got ${m.bands} bands) — one epoch per file")
      Raster.tileRefs(m, file)
        .map(r => TiffMemberPartition(r, epoch): InputPartition)
    }.toArray
}

final class TiffMembersScanBuilder(path: String, membersPerBatch: Int)
    extends ScanBuilder {
  override def build(): Scan = new TiffMembersScan(path, membersPerBatch)
}

final class TiffMembersScan(path: String, membersPerBatch: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = TiffMembersTable.Schema
  override def description(): String = s"graft-tiff-members $path"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    TiffMembersTable.memberPartitions(path,
      TiffMembersTable.members(path).zipWithIndex)
  override def createReaderFactory(): PartitionReaderFactory =
    TiffMemberReaderFactory
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new TiffMembersStream(path, membersPerBatch)
}

final class TiffMembersStream(path: String, membersPerBatch: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  @volatile private var availableNowTarget: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = TiffMembersTable.members(path).size.toLong

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
      else TiffMembersTable.members(path).size.toLong
    val cap = limit match {
      case l: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        s + l.maxFiles()
      case _ => now
    }
    ZarrMemberOffset(math.min(now, cap))
  }
  override def reportLatestOffset(): Offset =
    ZarrMemberOffset(TiffMembersTable.members(path).size.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[ZarrMemberOffset].n.toInt,
      end.asInstanceOf[ZarrMemberOffset].n.toInt)
    val names = TiffMembersTable.members(path)
    require(e <= names.size,
      s"$path: committed offset $e exceeds the ${names.size} members present " +
        "— a member disappeared; streaming needs an append-only landing dir")
    TiffMembersTable.memberPartitions(path, (s until e).map(i => (names(i), i)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    TiffMemberReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class TiffMemberPartition(ref: Raster.TileRef, epoch: Int)
    extends InputPartition

object TiffMemberReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val mp = p.asInstanceOf[TiffMemberPartition]
    val inner = new TiffPartitionReader(mp.ref, Array("cell_x", "cell_y", "value"))
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val r = inner.get()
        val row = new GenericInternalRow(4)
        row.update(0, r.getInt(0)); row.update(1, r.getInt(1))
        row.update(2, mp.epoch); row.update(3, r.getDouble(2))
        row
      }
      override def close(): Unit = inner.close()
    }
  }
}
