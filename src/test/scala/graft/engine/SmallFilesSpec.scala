package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The one small-file read and publish ([[SmallFiles]]): a publish on the
  * local filesystem is never observable as an absent or empty file, the
  * read rethrows a persistent error, and no other source file decides
  * how a small file is replaced.
  */
class SmallFilesSpec extends AnyFunSuite {

  private def localFs(dir: java.nio.file.Path): FileSystem =
    new Path(dir.toUri).getFileSystem(new Configuration())

  test("a reader polling a pointer never sees it absent or empty while " +
      "a writer publishes it 500 times on the local filesystem") {
    val dir = Files.createTempDirectory("smallfiles")
    val fs = localFs(dir)
    val p = new Path(dir.toUri.toString, "data.current")
    SmallFiles.publish(fs, p, "data.gen0")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    val bad = new AtomicInteger(0)
    @volatile var firstBad = ""
    def saw(what: String): Unit = {
      if (bad.getAndIncrement() == 0) firstBad = what
    }
    val reader = new Thread(() => {
      try while (!stop.get()) {
        SmallFiles.read(fs, p) match {
          case Some(s) if s.matches("data\\.gen\\d+") => reads.incrementAndGet()
          case other => saw(String.valueOf(other))
        }
      } catch { case t: Throwable => saw(t.toString) }
    })
    reader.start()
    try (1 to 500).foreach(i => SmallFiles.publish(fs, p, s"data.gen$i"))
    finally { stop.set(true); reader.join(30000) }
    assert(bad.get() == 0, s"bad reads, the first: $firstBad")
    assert(reads.get() > 0)
    assert(SmallFiles.read(fs, p).contains("data.gen500"))
    // no checksum sidecar and no temp sibling stays behind
    val left = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(left == Set("data.current"), left)
  }

  test("read: None only for an absent file; a persistent error rethrows") {
    val dir = Files.createTempDirectory("smallfiles-read")
    val fs = localFs(dir)
    assert(SmallFiles.read(fs, new Path(dir.toUri.toString, "absent")).isEmpty)
    // a directory where the file should be fails every retry
    Files.createDirectory(dir.resolve("_last_batch"))
    intercept[java.io.IOException] {
      SmallFiles.read(fs, new Path(dir.toUri.toString, "_last_batch"),
        retries = 1)
    }
  }

  test("publishLocal creates parent dirs and replaces the whole file") {
    val dir = Files.createTempDirectory("smallfiles-local")
    val p = dir.resolve("a").resolve("b").resolve("stream.json")
    SmallFiles.publishLocal(p, "{\"v\": 1}")
    SmallFiles.publishLocal(p, "{\"v\": 2}")
    assert(Files.readString(p) == "{\"v\": 2}")
    assert(Files.list(p.getParent).count() == 1L)
  }

  test("no source file outside SmallFiles replaces a file by rename") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"run from the repo root: $src")
    val offenders = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "SmallFiles.scala")
      .filter { f =>
        val s = Files.readString(f)
        s.contains("Options.Rename") || s.contains("ATOMIC_MOVE")
      }.toList
    assert(offenders.isEmpty,
      s"publish small files through SmallFiles: ${offenders.mkString(", ")}")
  }
}
