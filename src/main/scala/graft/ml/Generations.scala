package graft.ml

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.engine.SmallFiles

/** The generation-pointer lifecycle shared by every versioned directory
  * under an index or state root. A generation is an immutable dir
  * `<prefix>.gen<N>`; one small pointer file names the active one, so a
  * writer publishes a whole new generation with a single atomic
  * small-file replace ([[SmallFiles.publish]]) — the object-store-correct
  * protocol (S3-style stores have no atomic directory rename, but one
  * small file can be replaced atomically). Readers resolve the pointer
  * once (one `exists`, one `open`) and then scan an immutable dir.
  *
  * A family WITH a base reads the plain `<prefix>` dir while no pointer
  * exists (a fresh build writes there; the base counts as generation 0).
  * `sidecars` are dir prefixes that follow the list dir generation by
  * generation (`index.gen3` ↔ `raw.gen3`): one pointer flips them
  * together, and a flip or reset drops them with it.
  *
  * Crash ordering around a flip (tombstones cleared after it, stats
  * written last, the fold state's batch id recorded in the pointer
  * line) stays with each caller.
  */
private[graft] final class Generations(pointer: String, prefix: String,
                                       hasBase: Boolean,
                                       sidecars: Seq[String] = Nil) {

  /** The pointer line split at its first space: the active generation's
    * dir name, then whatever the flip recorded after it ("" if nothing).
    */
  def current(fs: FileSystem, root: String): Option[(String, String)] =
    SmallFiles.read(fs, new Path(root, pointer)).map { line =>
      val i = line.indexOf(' ')
      if (i < 0) (line, "") else (line.substring(0, i), line.substring(i + 1))
    }

  /** Name of the active dir: the pointer's generation, else the base. */
  def activeName(fs: FileSystem, root: String): Option[String] =
    current(fs, root).map(_._1).orElse(Option.when(hasBase)(prefix))

  /** Path of the active dir; throws when neither pointer nor base exists. */
  def active(fs: FileSystem, root: String): String =
    activeName(fs, root).map(n => s"$root/$n").getOrElse(
      throw new IllegalStateException(s"no $pointer at $root"))

  /** The generation after `cur` (none yet → `gen0`). */
  def next(cur: Option[String]): String = {
    val gen = cur.fold(0L)(n =>
      if (n == prefix) 1L else n.stripPrefix(s"$prefix.gen").toLong + 1)
    s"$prefix.gen$gen"
  }

  /** `name`'s dir in a sidecar family: `index.gen3` → `raw.gen3`. */
  def sidecar(name: String, side: String): String =
    side + name.stripPrefix(prefix)

  /** Publish `next` (plus `note` on the same line) as the active
    * generation, then drop `previous` and its sidecars unless
    * `keepPrevious` (readers mid-scan of a multi-minute read need a
    * retention grace; clean up out-of-band). The drop is best-effort:
    * the flip has already published, and a leftover `.gen` dir is an
    * orphan the next [[reset]] sweeps.
    */
  def flip(fs: FileSystem, root: String, next: String,
           previous: Option[String], keepPrevious: Boolean,
           note: String = ""): Unit = {
    SmallFiles.publish(fs, new Path(root, pointer),
      if (note.isEmpty) next else s"$next $note")
    if (!keepPrevious) previous.foreach { old =>
      (old +: sidecars.map(sidecar(old, _))).foreach { n =>
        try fs.delete(new Path(root, n), true)
        catch { case NonFatal(_) => false }
      }
    }
  }

  /** Rebuild: delete the pointer (readers fall back to the base the
    * rebuild just wrote) and sweep every `<prefix>.gen*` and sidecar
    * `.gen*` dir. Callers clear deletion state BEFORE this — see
    * [[IndexTombstones.reset]].
    */
  def reset(fs: FileSystem, root: String): Unit = {
    fs.delete(new Path(root, pointer), false)
    val dir = new Path(root)
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if ((prefix +: sidecars).exists(s => name.startsWith(s"$s.gen")))
          fs.delete(st.getPath, true)
      }
  }
}

private[graft] object Generations {
  /** [[TextIndex]] postings + doclens: `data`, `data.gen<N>`. */
  val TextData = new Generations("data.current", "data", hasBase = true)
  /** [[TextIndex]] fuzzy term dictionary: `dict.gen<N>`, no base. */
  val TermDict = new Generations("dict.current", "dict", hasBase = false)
  /** [[Dedup]] shingle index: `shingles`, `shingles.gen<N>`. */
  val Shingles =
    new Generations("shingles.current", "shingles", hasBase = true)
  /** [[Similarity]] ANN lists `index`, `index.gen<N>`, with the raw-vector
    * sidecar `raw`, `raw.gen<N>`.
    */
  val AnnLists = new Generations("_index_gen", "index", hasBase = true,
    sidecars = Seq("raw"))
  /** Streaming fold state (`StreamOps.foldGenState`): `freq.gen<N>`, the
    * pointer line `"<gen> <folded-through batch id>"`.
    */
  val FoldState = new Generations("_freq_state", "freq", hasBase = false)
}
