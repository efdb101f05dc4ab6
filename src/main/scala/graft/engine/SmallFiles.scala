package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The one read and the one publish of a small state file: generation
  * pointers, delete epochs, streaming batch markers, index sidecar
  * markers and the JSON metadata stores. A publish is one atomic
  * replace — a reader sees the old content or the new, never an absent,
  * empty or torn file — the single-put visibility the catalog relies on.
  */
object SmallFiles {

  /** Read a small file, trimmed; `None` only when it is absent.
    *
    * Transient IO errors retry with bounded backoff: a file published
    * through FileContext on Hadoop's checksummed local filesystem moves
    * its data and `.crc` halves in two renames, and a reader that opens
    * in between sees a ChecksumException for a few microseconds. A
    * PERSISTENT error rethrows rather than defaulting — a wrong default
    * here reads a deleted generation, re-runs a committed batch or
    * restarts folded state from empty.
    */
  def read(fs: FileSystem, p: Path, retries: Int = 5): Option[String] = {
    var attempt = 0
    while (true) {
      if (!fs.exists(p)) return None
      try {
        val in = fs.open(p)
        return Some(try new String(in.readAllBytes(), UTF_8).trim
          finally in.close())
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > retries) throw e
          Thread.sleep(5L * attempt)
      }
    }
    None // unreachable
  }

  /** Atomically replace `p` with `content`: write a hidden, writer-unique
    * sibling, then rename it over. On a local filesystem that rename is
    * one rename(2): Hadoop's OVERWRITE rename deletes the target first
    * there, so a reader in between finds no file. The local file
    * carries no `.crc` sidecar (a stale one would fail the new content's
    * checksum). Elsewhere FileContext's OVERWRITE rename (atomic on HDFS).
    */
  def publish(fs: FileSystem, p: Path, content: String): Unit = {
    val dst = fs.makeQualified(p)
    if (fs.getUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(dst.toUri)
      Files.deleteIfExists(local.resolveSibling(s".${dst.getName}.crc"))
      publishLocal(local, content)
    } else {
      val tmp = new Path(dst.getParent, tmpName(dst.getName))
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(UTF_8)) finally out.close()
      FileContext.getFileContext(dst.toUri, fs.getConf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
    }
  }

  /** [[publish]] for a `java.nio` path, creating its parent dirs. */
  def publishLocal(p: java.nio.file.Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(tmpName(p.getFileName.toString))
    try {
      Files.write(tmp, content.getBytes(UTF_8))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally { Files.deleteIfExists(tmp); () }
  }

  private def tmpName(name: String): String =
    s".$name.${java.util.UUID.randomUUID()}.tmp"
}
