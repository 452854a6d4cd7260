package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

import graft.zonal.{ChunkPlan, PackedPartition, PackedReaderFactory}

/** The chunked DSv2 faces plan through one helper: the LIMIT prefix once,
  * then at most `defaultParallelism` contiguous packed partitions whose
  * reader chains the per-chunk readers.
  */
class ChunkPlanSpec extends SparkSuite {

  private case class Chunk(id: Int, rows: Int) extends InputPartition

  /** Per-chunk readers emitting `rows` rows of `id`; records closes. */
  private final class Chunks extends PartitionReaderFactory {
    val opened = scala.collection.mutable.ArrayBuffer.empty[Int]
    val closed = scala.collection.mutable.ArrayBuffer.empty[Int]
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val c = p.asInstanceOf[Chunk]
      opened += c.id
      new PartitionReader[InternalRow] {
        private var left = c.rows
        override def next(): Boolean = { left -= 1; left >= 0 }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](c.id))
        override def close(): Unit = closed += c.id
      }
    }
  }

  test("chunks pack in manifest order into at most defaultParallelism contiguous partitions") {
    val dp = spark.sparkContext.defaultParallelism
    for (n <- Seq(0, 1, dp - 1, dp, dp + 1, 27, 36)) {
      val plan = new ChunkPlan(-1)
      val parts = plan.partitions((0 until n).map(i => (Chunk(i, 1): InputPartition, 1L)))
      assert(parts.length == math.min(n, dp), s"n=$n")
      assert(plan.chunks == n && plannedChunks(parts.toSeq) == n, s"n=$n")
      val order = parts.toSeq.flatMap(_.asInstanceOf[PackedPartition].chunks.map(_.asInstanceOf[Chunk].id))
      assert(order == (0 until n), s"n=$n: $order")
      val sizes = parts.map(_.asInstanceOf[PackedPartition].chunks.length)
      assert(sizes.isEmpty || sizes.max - sizes.min <= 1, s"n=$n: unbalanced $sizes")
    }
    // partition bounds stay exact where i * n overflows Int
    assert(ChunkPlan.cut(3, 1000000000, 4) == 750000000)
    assert(ChunkPlan.cut(4000, 2000000, 4096) == 1953125)
  }

  test("the LIMIT prefix keeps the covering chunks plus one of slack") {
    val ps = (0 until 10).map(i => (Chunk(i, 10): InputPartition, 10L))
    assert(new ChunkPlan(25).prefix(ps).size == 4)
    assert(new ChunkPlan(20).prefix(ps).size == 3)
    assert(new ChunkPlan(0).prefix(ps).size == 1)
    assert(new ChunkPlan(-1).prefix(ps).size == 10)
    val plan = new ChunkPlan(25)
    plan.partitions(ps)
    assert(plan.chunks == 4 && plan.toString == " chunks=4")
  }

  test("a packed partition's reader chains its chunks and closes each one when drained") {
    val f = new Chunks
    val p = PackedPartition(Array(Chunk(0, 2), Chunk(1, 0), Chunk(2, 3)))
    val r = new PackedReaderFactory(f).createReader(p)
    val ids = Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().getInt(0)).toList
    assert(ids == List(0, 0, 2, 2, 2))
    assert(f.opened == Seq(0, 1, 2) && f.closed == Seq(0, 1, 2))
    assert(!r.next())
    r.close()
    assert(f.closed == Seq(0, 1, 2), "closing a drained reader closes nothing twice")
    // closing mid-chunk closes the open reader only
    val g = new Chunks
    val r2 = new PackedReaderFactory(g).createReader(p)
    assert(r2.next() && r2.get().getInt(0) == 0)
    r2.close()
    assert(g.opened == Seq(0) && g.closed == Seq(0))
  }

  test("source guard: no createDataset(...).repartition scan and no private limitPrefix in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val hits = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = s"src/main/scala/${root.relativize(f)}"
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      def code(l: String) = !l.trim.startsWith("*") && !l.trim.startsWith("//")
      lines.indices.flatMap { i =>
        val l = lines(i)
        if (!code(l)) Nil
        else if (l.contains("createDataset(") &&
            lines.slice(i, i + 4).exists(n => code(n) && n.contains(".repartition(")))
          Seq(s"$rel:${i + 1}: createDataset(...) followed by .repartition(: ${l.trim}")
        else if ("""def\s+limitPrefix\b""".r.findFirstIn(l).isDefined)
          Seq(s"$rel:${i + 1}: a private limitPrefix (use graft.zonal.ChunkPlan): ${l.trim}")
        else Nil
      }
    }.toList
    assert(hits.isEmpty, hits.mkString(
      "a local Seq already splits into leafNodeDefaultParallelism partitions, and the " +
        "chunked faces plan through ChunkPlan:\n", "\n", ""))
  }

  test("source guard: the classic-NetCDF Dataset-API scan twins stay deleted from src/main") {
    // single-variable classic reads go through graft.zonal.NetcdfSource;
    // the CF ops mask and unpack on top of it, so a stripe carries no fill
    val gone = Seq("scanNetcdf", "scanNetcdfEpochs", "scanNetcdfCube4d", "scanNetcdfWindow",
      "scanNetcdfCoords", "scanNetcdfCoord", "scanNetcdfTime", "scanStripes4", "scanStripes",
      "scanNetcdf4Coord", "dropFill")
    val word = ("\\b(" + gone.mkString("|") + ")\\b").r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val hits = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = s"src/main/scala/${root.relativize(f)}"
      val classic = f.getFileName.toString.startsWith("Netcdf")
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (l, i) =>
        word.findFirstIn(l).orElse(if (classic) "\\bhasFill\\b".r.findFirstIn(l) else None)
          .map(n => s"$rel:${i + 1}: $n: ${l.trim}")
      }
    }.toList
    assert(hits.isEmpty, hits.mkString(
      "read classic NetCDF through graft.zonal.NetcdfSource (+ .filter / .option(\"time\" | " +
        "\"coords\")), coordinates through Netcdf.readCoordAxis / Hdf5.h5CoordAxis, and mask " +
        "fill with Netcdf.notFill:\n", "\n", ""))
  }
}
