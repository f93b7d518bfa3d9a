package graft.checkpoint

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, Options,
  Path, UnsupportedFileSystemException}

/** Hadoop-FileSystem primitives shared by the durable stores
  * (ParquetSnapshotIO, ConnectedComponents' per-iteration label store,
  * IncrementalDedup's state tables), and the one module that knows the
  * commit protocol: atomic-rename commit records ([[writeRecord]]) and
  * crash-safe directory swaps ([[swapDir]] / [[recoverSwap]]). A durable
  * root can therefore live on ANY Hadoop filesystem — `file://` in the
  * sandbox, `hdfs://` / `abfs://` on a cluster. The previous java.nio
  * implementation silently collapsed `hdfs://nn/ck` to a RELATIVE local
  * path on the driver while the executors' parquet writes resolved the
  * same string against the default FS — manifest and data on different
  * filesystems, so resume never fired (round-5 review finding). A
  * scheme-less root now means "the default filesystem" on BOTH sides,
  * which is exactly the shared-FS semantics a cluster needs.
  *
  * Atomicity: the record swing uses `FileContext.rename(OVERWRITE)` and
  * the directory swap two no-replace renames, atomic on rename-native
  * filesystems (local POSIX, HDFS, ABFS). Object stores without atomic
  * rename (plain S3) are NOT a safe commit target — point the durable
  * root at HDFS-class storage there.
  */
private[graft] object FsOps {

  private def fs(conf: Configuration, p: Path): FileSystem = p.getFileSystem(conf)

  /** `p`'s filesystem without a client-side checksum layer: the local
    * filesystem keeps `.crc` sidecars that it hides from listings and
    * verifies on read. */
  private def rawFs(conf: Configuration, p: Path): FileSystem = fs(conf, p) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f                     => f
  }

  /** FileContext for `p`'s filesystem (default FS for scheme-less paths). */
  private def fc(conf: Configuration, p: Path): FileContext =
    if (p.toUri.getScheme == null) FileContext.getFileContext(conf)
    else FileContext.getFileContext(p.toUri, conf)

  def exists(conf: Configuration, p: Path): Boolean = fs(conf, p).exists(p)

  def mkdirs(conf: Configuration, p: Path): Unit = fs(conf, p).mkdirs(p)

  /** Full contents of a (small) file as UTF-8 — manifest-sized reads only.
    * Read past any checksum layer: a small durable file edited in place by
    * another tool (or an older library version) would otherwise fail
    * against its stale `.crc` sidecar instead of being read and judged by
    * its content. */
  def readString(conf: Configuration, p: Path): String = {
    val f = rawFs(conf, p)
    val len = f.getFileStatus(p).getLen
    require(len <= (1L << 20), s"manifest unexpectedly large (${len}B): $p")
    val in = f.open(p)
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(buf)
      new String(buf, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write `content` to `tmp`, then atomically rename over `dst` (the
    * commit point: at every instant `dst` is absent or a complete file).
    * A failure anywhere deletes `tmp` before rethrowing, so a LIVE process
    * never strands a tmp file; only a process kill can (swept by
    * [[sweepTmp]] on the next commit). Schemes whose FileSystem impl ships
    * without an AbstractFileSystem binding (FileContext needs one; e.g.
    * gs:// without fs.AbstractFileSystem.gs.impl) degrade to
    * delete-then-rename — a small non-atomic window, strictly better than
    * failing the commit AFTER the expensive data write succeeded. */
  def writeAtomic(conf: Configuration, tmp: Path, dst: Path, content: String): Unit = {
    val f = fs(conf, tmp)
    try {
      val os = f.create(tmp, true)
      try os.write(content.getBytes(StandardCharsets.UTF_8))
      finally os.close()
      try fc(conf, dst).rename(tmp, dst, Options.Rename.OVERWRITE)
      catch {
        case _: UnsupportedFileSystemException =>
          // Try the no-clobber rename first: the old dst is only deleted
          // once the replacement is fully written and one rename away.
          if (!f.rename(tmp, dst)) {
            f.delete(dst, false)
            if (!f.rename(tmp, dst))
              throw new java.io.IOException(s"rename $tmp -> $dst failed")
          }
      }
    } catch {
      case e: Throwable =>
        try f.delete(tmp, false) catch { case _: Exception => () }
        throw e
    }
  }

  /** GC crash-stranded leftovers of a commit into `dst`: sibling files or
    * directories named `<dst>.tmp-*` (a process killed between writing a
    * tmp and renaming it leaves exactly one). Best-effort; call before
    * writing the next tmp. */
  def sweepTmp(conf: Configuration, dst: Path): Unit = {
    val parent = dst.getParent
    if (parent != null && exists(conf, parent))
      try fs(conf, parent).listStatus(parent)
        .filter(_.getPath.getName.startsWith(dst.getName + ".tmp-"))
        .foreach(s => fs(conf, parent).delete(s.getPath, true))
      catch { case _: Exception => () }
  }

  /** A fresh `<p>.tmp-*` sibling: the name [[sweepTmp]] reclaims. */
  private def tmpSibling(p: Path): Path =
    new Path(p.getParent, s"${p.getName}.tmp-${java.util.UUID.randomUUID()}")

  private val json = new ObjectMapper()

  /** The one commit-record format of every small durable file (stage and
    * CC manifests, the incremental state stamp and remap journal): a flat
    * JSON object of string and integer fields, rendered in field order. */
  def renderRecord(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${json.writeValueAsString(k)}: ${json.writeValueAsString(v)}" }
      .mkString("{", ", ", "}")

  /** Fields of a rendered record, every value as its text (integers in
    * decimal). Anything but a flat JSON object is refused. */
  def parseRecord(s: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val node = json.readTree(s)
    require(node != null && node.isObject, s"not a commit record: $s")
    node.properties().asScala.map { e =>
      require(e.getValue.isValueNode, s"commit record field ${e.getKey} is not flat: $s")
      e.getKey -> e.getValue.asText
    }.toMap
  }

  /** Commit a record at `dst`: sweep stale tmps, write a fresh
    * `<dst>.tmp-*` and rename it atomically over `dst` ([[writeAtomic]]). */
  def writeRecord(conf: Configuration, dst: Path, fields: (String, Any)*): Unit = {
    sweepTmp(conf, dst)
    writeAtomic(conf, tmpSibling(dst), dst, renderRecord(fields: _*))
  }

  /** The committed record at `p`, if one exists. */
  def readRecord(conf: Configuration, p: Path): Option[Map[String, String]] =
    if (exists(conf, p)) Some(parseRecord(readString(conf, p))) else None

  private def aside(target: Path): Path = target.suffix(".old")

  /** Rename that FAILS when `dst` exists. `FileSystem.rename` onto an
    * existing directory moves `src` INTO it, which would nest a table
    * inside a stale aside copy instead of refusing. */
  private def renameNoReplace(conf: Configuration, src: Path, dst: Path): Unit =
    try fc(conf, dst).rename(src, dst, Options.Rename.NONE)
    catch {
      case _: UnsupportedFileSystemException =>
        val f = fs(conf, dst)
        if (f.exists(dst) || !f.rename(src, dst))
          throw new java.io.IOException(s"rename $src -> $dst failed")
    }

  /** Crash-safe directory replacement: `write` fills a fresh
    * `<target>.tmp-*` dir, the current table is renamed ASIDE to
    * `<target>.old` (one rename), the new one moved in (one rename), and
    * only then is the aside copy deleted — at every instant either the old
    * or the new table is recoverable, unlike delete-then-move which leaves
    * a window with no table at all. [[recoverSwap]] heals the one bad
    * window (a crash between the two renames). */
  def swapDir(conf: Configuration, target: Path)(write: Path => Unit): Unit = {
    val tmp = tmpSibling(target)
    write(tmp)
    deleteRecursive(conf, aside(target)) // stale aside from a crash after a completed swap
    if (exists(conf, target)) renameNoReplace(conf, target, aside(target))
    try renameNoReplace(conf, tmp, target)
    catch { case e: Throwable => // restore the old table before propagating
      if (!exists(conf, target) && exists(conf, aside(target)))
        renameNoReplace(conf, aside(target), target)
      throw e
    }
    deleteRecursive(conf, aside(target))
  }

  /** Heal an interrupted [[swapDir]]: if the target vanished mid-swap the
    * aside copy is moved back; a surviving aside next to an intact target
    * (crash after the second rename) is dropped. Also clears abandoned
    * `<target>.tmp-*` write dirs so crashes don't leak space. */
  def recoverSwap(conf: Configuration, target: Path): Unit = {
    if (!exists(conf, target) && exists(conf, aside(target)))
      renameNoReplace(conf, aside(target), target)
    else deleteRecursive(conf, aside(target))
    sweepTmp(conf, target)
  }

  /** Regular files directly under `p` (0 if `p` is absent), checksum
    * sidecars included, so file-count thresholds mean what they do against
    * a plain directory list. */
  def fileCount(conf: Configuration, p: Path): Int =
    if (!exists(conf, p)) 0 else rawFs(conf, p).listStatus(p).count(_.isFile)

  /** Regular files directly under `p` (empty if `p` is absent). */
  def listFiles(conf: Configuration, p: Path): Seq[FileStatus] =
    if (!exists(conf, p)) Nil
    else fs(conf, p).listStatus(p).filter(_.isFile).toSeq

  /** Immediate subdirectories of `p` (empty if `p` is absent). */
  def listDirs(conf: Configuration, p: Path): Seq[Path] =
    if (!exists(conf, p)) Nil
    else fs(conf, p).listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq

  /** Best-effort recursive delete (GC sweeps must never abort a commit
    * whose manifest already landed; a resisting dir is re-swept later). */
  def deleteRecursive(conf: Configuration, p: Path): Boolean =
    try fs(conf, p).delete(p, true)
    catch { case _: Exception => false }
}
