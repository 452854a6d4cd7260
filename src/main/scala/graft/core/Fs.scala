package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Tiny filesystem helpers shared by the readers and the sink/bucketed paths. */
object Fs {
  /** The one Hadoop configuration of this JVM: Hadoop's defaults, parsed
    * once. A fresh `Configuration` re-parses `core-default.xml` on its
    * first read (on executor threads the resource lookup also scans the
    * jars), which costs more than the header, chunk or tile read it serves.
    *
    * Shared by every reader on every thread: only ever read it — never
    * `set` a key, add a resource or change its class loader. Like any
    * default `Configuration`, it does not see `spark.hadoop.*`.
    */
  lazy val hadoopConf: Configuration = {
    val c = new Configuration()
    c.size() // load the default resources now, not on a reader's first get
    c
  }

  /** The file system of `p` under [[hadoopConf]]; Hadoop caches the
    * instance JVM-wide, so callers must not close it.
    */
  def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Recursive delete; no-op when the path does not exist. */
  def rmTree(f: java.io.File): Unit = if (f.exists()) {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }
  def rmTree(path: String): Unit = rmTree(new java.io.File(path))
}
