package perfbench

import graft.SparkEntry
import graft.core.Q

/** The query families the workloads draw their ids from, as the program's
  * registry objects define them. Prints `family <TAB> id <TAB> oracle`
  * (whether the id has a DuckDB oracle) for every member.
  *
  * Usage: perfbench.Families
  */
object Families {
  private val cubeIo = Seq("scan_", "sink_", "sql_cube_", "stream_")

  def all: Seq[(String, Seq[(String, Q)])] = {
    import graft.{llm, rel, stream, zonal}
    Seq(
      "rel" -> Seq(rel.Scans.defs, rel.FilterProject.defs, rel.Joins.defs, rel.Aggregates.defs,
        rel.SortSet.defs, rel.Windows.defs, rel.Functions.defs, rel.Udfs.defs).flatten,
      "stream" -> stream.Streams.defs,
      "dedup" -> (llm.Dedup.defs ++ llm.Sim.defs),
      "zonal" -> SparkEntry.registry.filter(_._1.startsWith("zonal_")),
      "cube_io" -> zonal.Zarr.defs.filter { case (id, _) => cubeIo.exists(id.startsWith) })
  }

  def main(args: Array[String]): Unit =
    for ((family, defs) <- all; (id, q) <- defs) println(s"$family\t$id\t${q.oracle.isDefined}")
}
