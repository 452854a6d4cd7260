package graft.core

import java.io.File
import java.nio.file.{FileSystemException, Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/** Write-once store for the files the engine builds for itself: formula
  * fixtures, per-dataset vector containers, derived parquet stores and
  * trained ANN index tables. Entries live under
  * `$java.io.tmpdir/graft_io/<key>`; delete that directory to force a
  * rebuild.
  *
  * An entry is written to a private temp name and renamed into place,
  * so no reader (in this JVM or another) sees a half-written store. A
  * sibling stamp file `.fp_<Stamp>_<key>` marks a finished entry of the
  * current generation; an entry with its stamp is reused across JVMs
  * and never rewritten.
  */
object Fixture {

  /** Fixture generation: bump whenever any fixture formula or writer
    * layout changes, so a store left by an older build is rebuilt
    * instead of silently reused.
    */
  val Stamp = "r19b"

  /** One slot per key; its lock guards the write, held outside the map
    * (a write may build other entries, which a shared computeIfAbsent
    * would forbid).
    */
  private final class Slot { @volatile var path: String = null }
  private val slots = new ConcurrentHashMap[String, Slot]()

  /** Path of the entry `name`, calling `write(tmpPath)` once if it is
    * not built yet. `write` gets a path that does not exist and must
    * create exactly that file or directory.
    *
    * An entry built from data names its input files or directories in
    * `inputs`: the key then carries a fingerprint of their canonical
    * paths, total bytes and newest mtime, so a dataset regenerated in
    * place, or a second data dir with the same basename, gets its own
    * entry. If `write` throws, its temp output is removed, nothing is
    * published, and the next call tries again.
    */
  def once(name: String, inputs: Seq[String] = Nil)(write: String => Unit): String = {
    val key = if (inputs.isEmpty) name else {
      val dot = name.lastIndexOf('.')
      val (stem, ext) = if (dot > 0) name.splitAt(dot) else (name, "")
      s"${stem}_${fingerprint(inputs)}$ext"
    }
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    val hit = slot.path
    if (hit != null) hit
    else slot.synchronized {
      if (slot.path == null) slot.path = install(key, write)
      slot.path
    }
  }

  private def install(key: String, write: String => Unit): String = {
    val root = new File(System.getProperty("java.io.tmpdir"), "graft_io")
    root.mkdirs()
    val dst = new File(root, key)
    val stamp = new File(root, s".fp_${Stamp}_$key")
    if (!(dst.exists() && stamp.exists())) {
      val stale = dst.exists() // an older generation's or an unfinished store
      val tmp = new File(root, s".build_${ProcessHandle.current().pid()}_${System.nanoTime()}_$key")
      try {
        write(tmp.getPath)
        if (!tmp.exists()) throw new IllegalStateException(s"fixture $key: write created nothing")
      } catch { case e: Throwable => Fs.rmTree(tmp); throw e }
      if (stamp.exists()) Fs.rmTree(tmp) // another JVM installed it meanwhile
      else {
        if (stale) Fs.rmTree(dst)
        try Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // another JVM won the rename; its entry has the same content
          case _: FileSystemException if dst.exists() => Fs.rmTree(tmp)
        }
        stamp.createNewFile()
      }
    }
    dst.getPath
  }

  /** 12 hex digits of MD5 over the canonical paths, total bytes and
    * newest mtime of every regular file under `inputs`.
    */
  private def fingerprint(inputs: Seq[String]): String = {
    import scala.jdk.CollectionConverters._
    val files = inputs.map(new File(_)).filter(_.exists()).flatMap { f =>
      scala.util.Using.resource(Files.walk(f.toPath))(
        _.iterator().asScala.map(_.toFile).filter(_.isFile).toList)
    }
    val canon = inputs.map(p => new File(p).getCanonicalPath).mkString(",")
    val bytes = files.map(_.length).sum
    val mtime = files.map(_.lastModified).maxOption.getOrElse(0L)
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$canon|$bytes|$mtime".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)
  }

  /** Forget the in-memory hits for keys starting with `prefix`, as a
    * new JVM would; the on-disk entries and their stamps stay.
    */
  private[graft] def forget(prefix: String): Unit =
    slots.keySet().removeIf(_.startsWith(prefix))
}
