package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.SmallFiles
import graft.ml.IndexTombstones.fsOf

/** Persisted INVERTED LEXICAL INDEX with BM25 search — the lexical twin of
  * the persisted ANN indexes in [[Similarity]] and the shingle index in
  * [[Dedup]], sharing their full lifecycle contract:
  *
  *   build ([[saveTextIndex]]) → append ([[appendToTextIndex]]) →
  *   delete ([[deleteFromTextIndex]], shared [[IndexTombstones]]) →
  *   compact ([[compactTextIndex]], generation-pointer publication) →
  *   rebuild (save again: resets tombstones, epoch, generations).
  *
  * Layout under an index root `$path`:
  *
  *   - `data/postings/bucket=K/` — (term, doc_id, dl, tf, seq) rows,
  *     `bucket = pmod(xxhash64(term), numBuckets)`: a query's touched
  *     buckets are computable from its terms alone, so a search reads
  *     ONLY those partition directories (static pruning, the house
  *     pattern — DPP is never relied on, see
  *     `Similarity.prunedIndexRead`).
  *   - `data/doclens/bucket=K/` — ONE (doc_id, dl, seq) row per indexed
  *     doc, `bucket = pmod(doc_id, numBuckets)`: the corpus-stats ledger
  *     (deletes look up the departing docs' lengths bucket-pruned;
  *     compaction recomputes exact stats from the live rows). Searches
  *     never touch it.
  *   - `_text_stats` — one line
  *     `"nDocs sumDl numBuckets maybeDup layoutVersion token attrs"`:
  *     corpus stats maintained incrementally (build/append add, delete
  *     subtracts) and recomputed exactly at compaction; the maybe-dup
  *     flag ([[readStatsFull]]); the postings layout version and the
  *     comma-joined build-time attr columns (the layout a resident load
  *     checks every postings footer against); and a writer-unique token.
  *     numBuckets lives HERE, not in call signatures: an append or search
  *     with a mismatched bucket count would route postings to (or prune
  *     reads from) the wrong directories silently. Every mutator (save,
  *     merge, append, delete, compact) rewrites this file, with a fresh
  *     token, as its LAST step — after the data, the tombstone log, the
  *     pointer and any generation-dir deletes — so a reader that read a
  *     token sees every write of the mutation that wrote it. Lines of
  *     indexes written before the layout (3 or 4 fields, attrs in
  *     `_text_attrs`) still parse; they carry no token, and append and
  *     delete keep them token-less.
  *   - `data.current` / `data.genN` — generation pointer + versioned
  *     directories (same object-store-correct pointer-swap publication
  *     as `Dedup.compactShingleIndex`).
  *   - `deletes/`, `_del_epoch` — shared tombstone machinery
  *     ([[IndexTombstones]]; rows stamped `seq`, dead iff a tombstone
  *     outranks them, re-insert-after-delete visible).
  *
  * Scale rationale (100 TB): the corpus is tokenized ONCE at build; a
  * search touches |query terms| bucket directories with the term
  * predicate pushed into the parquet scan, computes df over exactly the
  * matching postings (so document-frequency is always deletion-exact),
  * and never runs corpus-wide work. N and avgdl come from the stats
  * file — a driver-side read, not a billion-row aggregate per query.
  *
  * Scoring is bit-identical to the ad-hoc [[TextRank.bm25Scores]]
  * (same formulas, same fixed left-to-right pivot sum, same 10⁻⁶ floor
  * grid — parity is spec-pinned in `TextIndexSpec`), so the persisted
  * path shares its DuckDB oracle.
  *
  * Residency ([[bm25TopK]], the serving path of `/text/search`): the
  * active generation of a tokened index whose postings hold at most
  * [[graft.plans.StatsFileIndex.DefaultMaxDriverRows]] rows (counted
  * from the parquet footers, on the driver) is held on the driver as an
  * immutable [[Generation]] and scored there with no Spark job; larger
  * and token-less indexes keep the Spark plan of [[bm25SearchPersisted]].
  * The two residency classes mirror the catalog's (`TxnCatalog`).
  *
  * Reference behavior anchor: full-text search over log streams
  * (/root/reference/src/prism/logstream/mod.rs text-filter queries);
  * the index layout itself is the standard IR inverted file re-expressed
  * as partitioned parquet + Spark reads.
  */
object TextIndex {

  private val StatsFile = "_text_stats"
  private val AttrsFile = "_text_attrs"

  /** Bucket of a term: stable across engines and sessions (xxhash64 with
    * Spark's fixed default seed), non-negative via pmod.
    */
  /** Driver-side twin of [[termBucket]] — the same xxhash64 (Spark's
    * fixed seed 42) + pmod, computed in plain Scala: every search's
    * pruning IN-list hashes QUERY LITERALS, so deriving the bucket list
    * used to cost a LocalTableScan job (collect) per probe. At 100 TB
    * the job is noise; at interactive latency it is one whole scheduler
    * round trip per query. `TextSearchOpsSpec` pins parity with the
    * Column path (a drift here silently prunes the WRONG directories).
    */
  private[ml] def termBucketsLocal(terms: Seq[String],
                                   numBuckets: Int): Seq[Int] =
    terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L)
      val m = (h % numBuckets).toInt
      if (m < 0) m + numBuckets else m
    }.distinct

  private def termBucket(term: Column, numBuckets: Int): Column =
    pmod(xxhash64(term), lit(numBuckets.toLong)).cast("int")

  private def docBucket(docId: Column, numBuckets: Int): Column =
    pmod(docId.cast("long"), lit(numBuckets.toLong)).cast("int")

  /** Read schemas of the layouts this object itself writes, supplied
    * explicitly on every search-path read: schema inference costs a
    * footer-read per DataFrame construction (~50 ms on the index-served
    * search paths, paid once per search), and the layout is the engine's
    * own contract — there is nothing to infer. Postings additionally
    * carry build-time attr columns whose TYPES the layout does not
    * record; attr-bearing indexes (readAttrs non-empty) keep the
    * inference fallback.
    */
  private val DoclensSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  private val PostingsCoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("positions",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)),
    org.apache.spark.sql.types.StructField("seq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  private def postingsFrame(spark: SparkSession, path: String,
                            dir: String): DataFrame =
    if (readAttrs(spark, path).isEmpty)
      spark.read.schema(PostingsCoreSchema).parquet(s"$dir/postings")
    else spark.read.parquet(dir + "/postings")

  private def doclensFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(DoclensSchema).parquet(s"$dir/doclens")

  private val VariantsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("variant",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  private val TermsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("p1",
      org.apache.spark.sql.types.StringType)))

  private def variantsFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(VariantsSchema).parquet(s"$dir/variants")

  private def termsFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(TermsSchema).parquet(s"$dir/terms")

  /** Postings layout a tokened `_text_stats` line names: columns
    * (term, doc_id, dl, tf, positions, seq) plus the build-time `attrs`.
    */
  private val LayoutVersion = 1

  /** What a tokened stats line adds: the layout's attr columns and the
    * writer-unique token of the mutation that wrote the line.
    */
  private final case class Layout(attrs: Seq[String], token: String)

  private final case class Stats(nDocs: Long, sumDl: Long, numBuckets: Int,
                                 maybeDup: Boolean, layout: Option[Layout])

  /** The stats line of an index root, None when the file is absent. */
  private def statsOpt(spark: SparkSession, path: String): Option[Stats] =
    SmallFiles.read(fsOf(spark, path),
        new org.apache.hadoop.fs.Path(path, StatsFile)).map { line =>
      line.split("\\s+") match {
        case Array(n, s, b) => Stats(n.toLong, s.toLong, b.toInt, true, None)
        case Array(n, s, b, d) =>
          Stats(n.toLong, s.toLong, b.toInt, d == "1", None)
        case Array(n, s, b, d, v, tok, attrs @ _*) if attrs.size <= 1 =>
          if (v.toIntOption.forall(_ != LayoutVersion))
            throw new IllegalStateException(s"$StatsFile under $path names " +
              s"postings layout $v, not $LayoutVersion; rebuild with saveTextIndex")
          Stats(n.toLong, s.toLong, b.toInt, d == "1", Some(Layout(
            attrs.flatMap(_.split(",")).filter(_.nonEmpty), tok)))
        case _ => throw new IllegalStateException(s"malformed $StatsFile " +
          s"under $path: '$line'; rebuild with saveTextIndex")
      }
    }

  private def stats(spark: SparkSession, path: String): Stats =
    statsOpt(spark, path).getOrElse(throw new IllegalStateException(
      s"missing $StatsFile under $path — not a saveTextIndex layout " +
        "(or an interrupted build); rebuild with saveTextIndex"))

  /** Corpus stats of an index root: (nDocs, sumDl, numBuckets).
    * Incremental between compactions (a crash between a delete's
    * tombstone log and its stats write leaves them slightly stale-high
    * until the next compaction recomputes them exactly — documented on
    * [[deleteFromTextIndex]]). df is never read from here and is always
    * deletion-exact.
    */
  def readStats(spark: SparkSession, path: String): (Long, Long, Int) = {
    val st = stats(spark, path)
    (st.nDocs, st.sumDl, st.numBuckets)
  }

  /** [[readStats]] plus the MAYBE-DUP flag (4th stats field): false iff
    * every live posting is provably unique per (doc_id, term) — set by
    * fresh builds, cleared-by-repair compactions, and preserved by
    * merges of clean inputs; any append flips it (an at-least-once
    * replay of that append can't be ruled out afterwards). Sum-based
    * scorers skip the [[collapseDupPostings]] exchange when false.
    * Indexes written before the flag existed read as true (collapse —
    * the always-correct side).
    */
  def readStatsFull(spark: SparkSession,
                    path: String): (Long, Long, Int, Boolean) = {
    val st = stats(spark, path)
    (st.nDocs, st.sumDl, st.numBuckets, st.maybeDup)
  }

  /** Rewrite the stats line — every mutator's LAST step. `attrs` Some
    * writes the layout and a fresh token; None keeps a token-less index
    * token-less (its files predate the layout a resident load checks).
    */
  private def writeStats(spark: SparkSession, path: String,
                         nDocs: Long, sumDl: Long, numBuckets: Int,
                         maybeDup: Boolean, attrs: Option[Seq[String]]): Unit =
    SmallFiles.publish(fsOf(spark, path),
      new org.apache.hadoop.fs.Path(path, StatsFile),
      s"$nDocs $sumDl $numBuckets ${if (maybeDup) 1 else 0}" +
        attrs.fold("")(a => s" $LayoutVersion ${java.util.UUID.randomUUID()} " +
          a.mkString(",")))

  /** Attribute columns persisted INSIDE the postings rows (the storage
    * half of filtered lexical search and facet counting — same
    * denormalization choice as `Similarity.saveIvfIndex`'s `attrCols`:
    * predicates and facet aggregations evaluate on the pruned postings
    * reads themselves, never via a search-time join against a metadata
    * table). The layout is recorded in `_text_stats` (`_text_attrs` for
    * indexes written before it) so appends write the same schema.
    */
  def readAttrs(spark: SparkSession, path: String): Seq[String] =
    statsOpt(spark, path).flatMap(_.layout) match {
      case Some(l) => l.attrs
      case None => SmallFiles.read(fsOf(spark, path),
          new org.apache.hadoop.fs.Path(path, AttrsFile))
        .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Nil)
    }

  /** Resolve the ACTIVE data directory (generation the pointer names, or
    * the original `data` dir before any compaction).
    */
  def activeDataDir(spark: SparkSession, path: String): String =
    Generations.TextData.active(fsOf(spark, path), path)

  /** (doc_id, dl, term, tf, positions) rows of a batch — dl computed
    * EXACTLY as [[TextRank.bm25Scores]] does (`size(tokens(text))`), the
    * invariant the bit-parity contract rests on. `positions` is the
    * sorted 0-based occurrence list (the POSITIONAL half of the index:
    * phrase/adjacency queries intersect these instead of re-reading
    * text); tf = its length, kept as its own column so the BM25 path
    * never touches the arrays.
    */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
                         attrCols: Seq[String]): DataFrame = {
    val attrs = attrCols.map(col)
    val toks = docs.select(col(idCol).cast("long").as("doc_id") +:
        TextAnalysis.tokens(col(textCol)).as("toks") +: attrs: _*)
      .withColumn("dl", size(col("toks")).cast("long"))
    toks.select(col("doc_id") +: col("dl") +:
        posexplode(col("toks")).as(Seq("pos", "term")) +: attrs: _*)
      .groupBy(col("doc_id") +: col("dl") +: col("term") +: attrs: _*)
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
  }

  private def doclensOf(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))

  private def writePostings(p: DataFrame, dir: String, numBuckets: Int,
                            seq: Column, mode: String,
                            attrCols: Seq[String]): Unit =
    p.select(col("term") +: col("doc_id") +: col("dl") +: col("tf") +:
        col("positions") +: seq.as("seq") +:
        termBucket(col("term"), numBuckets).as("bucket") +:
        attrCols.map(col): _*)
      // co-locate each bucket before the partitioned write: one file per
      // bucket dir per write, not one per (task × bucket) — same
      // small-files rationale as Dedup.saveShingleIndex
      .repartition(numBuckets, col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$dir/postings")

  private def writeDoclens(d: DataFrame, dir: String, numBuckets: Int,
                           seq: Column, mode: String): Unit =
    d.select(col("doc_id"), col("dl"), seq.as("seq"),
        docBucket(col("doc_id"), numBuckets).as("bucket"))
      .repartition(numBuckets, col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(s"$dir/doclens")

  /** Build the index. `maxDocFreq` is the stop-term skew guard (a term in
    * more than that many docs never enters the postings at all — the
    * BM25 contribution of a stop term is near-zero while its posting
    * list is corpus-sized; dropping it bounds every future read). The
    * doclens ledger and stats are NOT affected by the guard: dl counts
    * all tokens, exactly as the ad-hoc scorer sees them.
    *
    * A rebuild must become visible and forget deletion state: clear
    * tombstones first (crash in between un-hides rows of the superseded
    * generation only), then the generation pointer and stale gen dirs —
    * the same reset contract as `Similarity.resetIndexGenerations` —
    * and only then the stats line with its fresh token.
    */
  def saveTextIndex(docs: DataFrame, idCol: String, textCol: String,
                    path: String, numBuckets: Int = 64,
                    maxDocFreq: Option[Long] = None,
                    attrCols: Seq[String] = Nil): Unit = {
    val spark = docs.sparkSession
    require(attrCols.forall(a => a.nonEmpty && !a.exists(c =>
      c == ',' || c.isWhitespace)),
      s"attrCols must be non-empty names without ',' or whitespace: $attrCols")
    val posts = postingsOf(docs, idCol, textCol, attrCols)
    val kept = maxDocFreq match {
      case None => posts
      case Some(cap) =>
        val dfreq = posts.groupBy("term").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= cap).drop("df_")
        posts.join(dfreq, "term")
    }
    writePostings(kept, s"$path/data", numBuckets, lit(0L), "overwrite",
      attrCols)
    writeDoclens(doclensOf(docs, idCol, textCol), s"$path/data", numBuckets,
      lit(0L), "overwrite")
    val st = doclensOf(docs, idCol, textCol)
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    IndexTombstones.reset(spark, path)
    Generations.TextData.reset(fsOf(spark, path), path)
    // fresh build: postings are one groupBy(term, doc) pass — unique
    writeStats(spark, path, st.getLong(0), st.getLong(1), numBuckets,
      maybeDup = false, Some(attrCols))
  }

  /** MERGE two indexes into a third — the segment/tenant consolidation
    * op (two per-team indexes become the org-wide one; N daily indexes
    * roll up into the monthly): both sides' LIVE rows (tombstones
    * applied — deletion state does not carry over) re-bucket into a
    * fresh single-generation index at `outPath`, stats recomputed
    * exactly from what landed, seq reset to 0. Attr layouts must match
    * (checked); doc-id disjointness is the CALLER's contract, as in
    * every id-space composition here — a duplicated id would double its
    * doclens row and inflate stats, exactly as appending it twice
    * would. One distributed pass per side, no driver materialization;
    * parity with rebuilding from the union corpus is spec-pinned.
    */
  def mergeTextIndexes(spark: SparkSession, aPath: String, bPath: String,
                       outPath: String, numBuckets: Int = 64): Unit = {
    val aAttrs = readAttrs(spark, aPath)
    require(aAttrs == readAttrs(spark, bPath),
      s"attr layouts differ: $aAttrs vs ${readAttrs(spark, bPath)}")
    def live(p: String, sub: String) = IndexTombstones.applyDeletes(spark, p,
      spark.read.parquet(s"${activeDataDir(spark, p)}/$sub"), "doc_id")
    val cols = Seq("term", "doc_id", "dl", "tf", "positions") ++ aAttrs
    val posts = live(aPath, "postings").select(cols.map(col): _*)
      .unionByName(live(bPath, "postings").select(cols.map(col): _*))
    val lens = live(aPath, "doclens").select(col("doc_id"), col("dl"))
      .unionByName(live(bPath, "doclens").select(col("doc_id"), col("dl")))
    writePostings(posts, s"$outPath/data", numBuckets, lit(0L), "overwrite",
      aAttrs)
    writeDoclens(lens, s"$outPath/data", numBuckets, lit(0L), "overwrite")
    val st = spark.read.parquet(s"$outPath/data/doclens")
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    IndexTombstones.reset(spark, outPath)
    Generations.TextData.reset(fsOf(spark, outPath), outPath)
    // doc-disjoint halves (caller contract) can't create cross-side
    // duplicates: the merge is clean iff both inputs are
    writeStats(spark, outPath, st.getLong(0), st.getLong(1), numBuckets,
      maybeDup = readStatsFull(spark, aPath)._4 ||
        readStatsFull(spark, bPath)._4, Some(aAttrs))
  }

  /** Append a batch: postings + doclens rows stamped with the CURRENT
    * delete epoch (so a doc deleted and later re-ingested is visible
    * again — the [[IndexTombstones]] seq contract), stats bumped by the
    * batch's exact counts. Single-writer, like every append in the index
    * families. Per-batch files accumulate; [[compactTextIndex]] restores
    * the one-file-per-bucket read path.
    *
    * No per-batch `maxDocFreq`: a batch can't judge corpus-wide term
    * frequency — the stop-term guard belongs to build and compaction
    * (same split as `Dedup.appendToShingleIndex`).
    */
  def appendToTextIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String): Unit = {
    val spark = docs.sparkSession
    val st0 = stats(spark, path)
    val dir = activeDataDir(spark, path)
    val seq = lit(IndexTombstones.readEpoch(spark, path))
    val attrCols = readAttrs(spark, path)
    writePostings(postingsOf(docs, idCol, textCol, attrCols), dir,
      st0.numBuckets, seq, "append", attrCols)
    writeDoclens(doclensOf(docs, idCol, textCol), dir, st0.numBuckets, seq,
      "append")
    val st = doclensOf(docs, idCol, textCol)
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    // any append flips maybe-dup: an at-least-once replay of THIS batch
    // (crash between the postings write and the caller's idempotence
    // marker) can't be ruled out from here on — compaction repairs
    writeStats(spark, path, st0.nDocs + st.getLong(0),
      st0.sumDl + st.getLong(1), st0.numBuckets, maybeDup = true,
      st0.layout.map(_.attrs))
  }

  /** Delete documents (takedown / data-removal). Tombstones via the
    * shared machinery — postings AND doclens rows of the ids die at
    * once (both keyed `doc_id`) — plus an exact stats subtraction: the
    * departing docs' lengths are looked up from the LIVE doclens rows
    * (bucket-pruned read, O(|ids| buckets) not O(corpus)) BEFORE the
    * tombstone is logged. Ids that aren't in the index (or are already
    * deleted) subtract nothing.
    *
    * Crash window: tombstones are logged before the stats write, so a
    * crash in between leaves stats stale-HIGH (searches stay correct —
    * df is computed from live postings; only N/avgdl drift slightly)
    * until the next [[compactTextIndex]] recomputes them exactly.
    */
  def deleteFromTextIndex(spark: SparkSession, path: String,
                          ids: DataFrame, idCol: String): Unit = {
    val st0 = stats(spark, path)
    val nb = st0.numBuckets
    val dir = activeDataDir(spark, path)
    val idsL = ids.select(col(idCol).cast("long").as("doc_id"))
    // touched doc-buckets: bounded by numBuckets ints by construction
    val bks = idsL.select(docBucket(col("doc_id"), nb).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val live = IndexTombstones.applyDeletes(spark, path,
      doclensFrame(spark, dir)
        .filter(col("bucket").isin(bks: _*)), "doc_id")
    val going = live.join(idsL.distinct(), Seq("doc_id"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    IndexTombstones.logDeletes(spark, path, idsL, "doc_id", "doc_id")
    writeStats(spark, path, st0.nDocs - going.getLong(0),
      st0.sumDl - going.getLong(1), nb, st0.maybeDup, st0.layout.map(_.attrs))
  }

  /** Compact: purge tombstoned rows physically, re-apply the corpus-wide
    * `maxDocFreq` stop-term guard over LIVE document frequencies, rewrite
    * one file per bucket, recompute stats exactly from the live doclens,
    * then publish via atomic pointer swap (versioned dir — see
    * `Dedup.compactShingleIndex` for the object-store rationale), clear
    * the tombstone log and drop the superseded generation; the exact
    * stats (fresh token) land last. A crash before them leaves the
    * incremental stats, stale-high until the next compaction. The delete
    * epoch is untouched (must stay monotone so post-compaction deletes
    * outrank pre-compaction appends).
    *
    * `numBuckets` re-buckets the index when passed (bucket columns are
    * recomputed from term/doc_id either way — never trusted from the
    * read-back partition column alone).
    */
  def compactTextIndex(spark: SparkSession, path: String,
                       numBuckets: Option[Int] = None,
                       maxDocFreq: Option[Long] = None,
                       keepPrevious: Boolean = false): Unit = {
    val (_, _, nbOld, wasDup) = readStatsFull(spark, path)
    val nb = numBuckets.getOrElse(nbOld)
    val fs = fsOf(spark, path)
    val curName = Generations.TextData.activeName(fs, path)
    val curDir = s"$path/${curName.get}"
    val nextName = Generations.TextData.next(curName)

    val livePosts0 = IndexTombstones.applyDeletes(spark, path,
      spark.read.parquet(s"$curDir/postings"), "doc_id")
    val liveLens0 = IndexTombstones.applyDeletes(spark, path,
      doclensFrame(spark, curDir), "doc_id")
    // REPAIR the at-least-once replay degradation while every row is in
    // hand anyway: collapse duplicated (doc, term) postings and doc
    // doclens rows, so the maxDocFreq df guard below counts true df,
    // the recomputed stats shed the replay inflation, and the rewritten
    // index is provably unique (maybe-dup flag resets — sum-based
    // scorers drop their defensive collapse until the next append).
    // Skipped entirely when the flag already proves uniqueness.
    val livePosts = if (wasDup) collapseDupPostings(livePosts0)
      else livePosts0
    val liveLens = if (wasDup)
      liveLens0.groupBy(col("doc_id"))
        .agg(max(col("dl")).as("dl"), max(col("seq")).as("seq"))
      else liveLens0
    val kept = maxDocFreq match {
      case None => livePosts
      case Some(cap) =>
        val dfreq = livePosts.groupBy("term").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= cap).drop("df_")
        livePosts.join(dfreq, "term")
    }
    val attrCols = readAttrs(spark, path)
    writePostings(kept.select(col("term") +: col("doc_id") +: col("dl") +:
      col("tf") +: col("positions") +: col("seq") +: attrCols.map(col): _*),
      s"$path/$nextName", nb, col("seq"), "overwrite", attrCols)
    writeDoclens(liveLens.select(col("doc_id"), col("dl"), col("seq")),
      s"$path/$nextName", nb, col("seq"), "overwrite")
    // exact stats from what actually landed (read-back, not plan re-run)
    val st = spark.read.parquet(s"$path/$nextName/doclens")
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    Generations.TextData.flip(fs, path, nextName, curName, keepPrevious)
    IndexTombstones.clearLog(spark, path)
    writeStats(spark, path, st.getLong(0), st.getLong(1), nb,
      maybeDup = false, Some(attrCols))
  }

  /** Collapse DUPLICATED (doc_id, term) posting rows — the
    * at-least-once crash-replay degradation (re-append of an already
    * landed batch) that [[phraseSearchPersisted]] already collapses for
    * positions: without this, `sum`-based scorers double-count the
    * duplicated term and raw-row df counts inflate, so the batch and
    * single scorers diverge exactly when the index is degraded. tf/dl
    * take max (replayed rows are identical copies of one logical
    * posting); every other column takes first for the same reason.
    * Runs on the PRUNED postings only (bucket + term IN-lists already
    * applied) — the map-side partial aggregate collapses the rare
    * duplicates before the exchange, so the clean-index cost is one
    * narrow hash-aggregate over the candidate rows, never the corpus.
    */
  private def collapseDupPostings(live: DataFrame): DataFrame = {
    val others = live.columns.filterNot(Set("doc_id", "term").contains)
    val aggs = others.map {
      case c @ ("tf" | "dl" | "seq") => max(col(c)).as(c)
      case c                         => first(col(c)).as(c)
    }
    live.groupBy(col("doc_id"), col("term")).agg(aggs.head, aggs.tail: _*)
  }

  /** BM25 top-k against the persisted index — bit-identical scores to
    * [[TextRank.bm25Scores]] over the live corpus (spec-pinned), served
    * from |queryTerms| bucket directories instead of a corpus pass:
    *
    *   - STATIC partition pruning: the query terms' buckets become a
    *     literal IN-list on the partition column (the house pattern —
    *     never DPP hope), and the `term IN (...)` predicate pushes into
    *     the parquet scan of those directories.
    *   - df per term is counted over the live (tombstone-filtered)
    *     postings actually read — deletion-exact by construction.
    *   - N/avgdl from the stats file: a driver-side read.
    *   - The per-term contributions pivot into fixed columns summed in
    *     fixed left-to-right order (grouped double sums are
    *     order-nondeterministic), floored to the 10⁻⁶ grid; global top-k
    *     = TakeOrderedAndProject on (score desc, doc_id asc) — a
    *     distributed bounded selection, then ranks over the ≤ k rows.
    *
    * Returns (doc_id, score_micro, rk), rk 1-based, deterministic ties.
    */
  def bm25SearchPersisted(spark: SparkSession, path: String,
                          queryTerms: Seq[String], k: Int,
                          k1: Double = 1.2, b: Double = 0.75,
                          where: Option[Column] = None,
                          after: Option[(Long, Long)] = None): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    val (nDocs, sumDl, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    // buckets of the query terms: a LocalTableScan job over |terms| rows
    val bks = termBucketsLocal(queryTerms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(queryTerms: _*))
    // This path needs NO collapseDupPostings exchange: the positional
    // MAX-pivot below is duplicate-robust by construction (replayed
    // rows carry identical tf/dl → identical contrib → max collapses
    // them), and df counts DISTINCT docs, so the at-least-once
    // crash-replay degradation cannot double-count here. The sum-based
    // batch and boolean scorers DO collapse — see collapseDupPostings.
    val all = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    // FILTERED search (`where` over build-time `attrCols`): the predicate
    // restricts CANDIDATES, not scoring statistics — df/N/avgdl stay
    // corpus-global (the Lucene filtered-query convention: a filter
    // changes which docs may answer, not how informative a term is).
    // Evaluated on the pruned postings rows, pushable parts reach the
    // parquet scan.
    val live = where.map(all.filter).getOrElse(all)
    val dfreq = all.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl)))
    val perTerm = live.join(broadcast(dfreq), "term")
      .withColumn("contrib",
        idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom)
    // positional aliases (c_0, c_1, …) keyed by term INDEX, never term
    // text (same fix as the ad-hoc TextRank.bm25Scores — parity kept):
    // a term containing '.' or '`' would break column resolution
    val termCols = queryTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("contrib"))).as(s"c_$i") }
    val pivoted = perTerm.groupBy(col("doc_id"))
      .agg(termCols.head, termCols.tail: _*)
    val total = queryTerms.indices
      .map(i => coalesce(col(s"c_$i"), lit(0.0)))
      .reduceLeft(_ + _) // left-to-right: fixed IEEE evaluation order
    val scored = pivoted.select(col("doc_id"),
      floor(total * lit(1000000.0)).cast("long").as("score_micro"))
    // SEARCH-AFTER keyset pagination (the Elasticsearch `search_after`
    // contract): `after = (score_micro, doc_id)` of the previous page's
    // last row restricts to strictly-later rows in the total order
    // (score desc, doc_id asc) BEFORE the bounded top-k selection —
    // page N costs the same one index probe as page 1, with no
    // deep-offset skip and no server-side cursor state.
    val paged = after match {
      case None => scored
      case Some((s0, d0)) => scored.filter(col("score_micro") < s0 ||
        (col("score_micro") === s0 && col("doc_id") > d0))
    }
    // ranked top-k without the bounded unpartitioned window
    // (TopK.rankedLimit — same rows/ranks, no WindowExec log spray)
    graft.operators.TopK.rankedLimit(paged,
      Seq(col("score_micro").desc, col("doc_id").asc), k)
  }

  /** Ranked BM25 top-k `(doc_id, rk, score_micro)` of a persisted index,
    * in rank order: the rows of [[bm25SearchPersisted]] with the same
    * arguments. A tokened index whose postings fit
    * [[graft.plans.StatsFileIndex.DefaultMaxDriverRows]] is scored on the
    * driver from its resident [[Generation]] and runs no Spark job (a
    * `where` over the candidate rows folds into local data); every other
    * index collects the Spark plan.
    */
  def bm25TopK(spark: SparkSession, path: String, queryTerms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               where: Option[Column] = None,
               after: Option[(Long, Long)] = None): Seq[(Long, Int, Long)] = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    residentGeneration(spark, path) match {
      case Some(g) => g.topK(spark, queryTerms, k, k1, b, where, after)
      case None => rankedRows(
        bm25SearchPersisted(spark, path, queryTerms, k, k1, b, where, after))
    }
  }

  /** The `(doc_id, rk, score_micro)` rows of a ranked BM25 frame, in rank
    * order.
    */
  def rankedRows(ranked: DataFrame): Seq[(Long, Int, Long)] =
    ranked.select(col("doc_id"), col("rk").cast("int"), col("score_micro"))
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  /** One generation of a tokened index held on the driver: per term, its
    * LIVE postings rows `(term, doc_id, dl, tf, seq, attrs…)` (`positions`
    * and `bucket` are left out, so a `where` may name only these), and
    * the corpus stats of the stats line whose token keyed the load.
    * Immutable.
    */
  private final class Generation(
      nDocs: Long, sumDl: Long,
      schema: org.apache.spark.sql.types.StructType,
      postings: Map[String, Array[Row]]) {

    /** [[bm25SearchPersisted]]'s operations in its order: distinct-doc df
      * over the live postings (before `where`: a filter restricts
      * candidates, never statistics), `StrictMath.log` (Spark's `Log`),
      * the max contribution per (doc, term), a left-to-right sum of the
      * per-term maxima (0 for a missing term) floored to the 10⁻⁶ grid,
      * the `after` keyset filter, then (score desc, doc_id asc).
      */
    def topK(spark: SparkSession, queryTerms: Seq[String], k: Int, k1: Double,
             b: Double, where: Option[Column],
             after: Option[(Long, Long)]): Seq[(Long, Int, Long)] = {
      val all = queryTerms.map(postings.getOrElse(_, Array.empty[Row]))
      val n = nDocs.toDouble
      val avgdl = sumDl.toDouble / n
      val idf = all.map { rows =>
        val df = rows.iterator.map(_.getLong(1)).toSet.size.toDouble
        StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))
      }
      val live = where match {
        case None => all.iterator.flatten
        case Some(w) =>
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(all.flatten.asJava, schema).filter(w)
            .collect().iterator
      }
      val termIdx = queryTerms.zipWithIndex.toMap
      val maxima = scala.collection.mutable.LongMap.empty[Array[Option[Double]]]
      live.foreach { r =>
        val i = termIdx(r.getString(0))
        val tf = r.getLong(3).toDouble
        val denom = tf + k1 * ((1.0 - b) + b * (r.getLong(2).toDouble / avgdl))
        val c = idf(i) * (tf * (k1 + 1.0)) / denom
        val cs = maxima.getOrElseUpdate(r.getLong(1),
          Array.fill[Option[Double]](queryTerms.size)(None))
        // Spark's max orders NaN above every number, as Double.compare does
        cs(i) = Some(cs(i).fold(c)(m =>
          if (java.lang.Double.compare(c, m) > 0) c else m))
      }
      val scored = maxima.iterator.map { case (doc, cs) =>
        val total = cs.tail.foldLeft(cs.head.getOrElse(0.0))(_ + _.getOrElse(0.0))
        (doc, math.floor(total * 1000000.0).toLong)
      }
      val paged = after.fold(scored) { case (s0, d0) =>
        scored.filter { case (d, s) => s < s0 || (s == s0 && d > d0) } }
      paged.toSeq
        .sortWith { case ((d1, s1), (d2, s2)) => s1 > s2 || (s1 == s2 && d1 < d2) }
        .take(k).zipWithIndex.map { case ((d, s), i) => (d, i + 1, s) }
    }
  }

  /** Residency key of a tokened index: the generation dir the pointer
    * names and the token of the stats line. The token tells a rebuild
    * into the same dir, an append and a delete apart; the dir tells a
    * compaction's pointer flip apart before its token lands.
    */
  private final case class GenKey(dir: String, token: String)

  /** A path's entry: its key and the generation loaded under it, None
    * when the postings exceed the driver bound (the Spark plan serves).
    */
  private final case class Held(key: GenKey, gen: Option[Generation])

  private val held = new java.util.concurrent.ConcurrentHashMap[String, Held]()

  /** Columns every layout-[[LayoutVersion]] postings file carries, with the
    * types [[writePostings]] writes (`positions` aside: residency leaves
    * it out).
    */
  private val ResidentCore: Seq[(String, org.apache.spark.sql.types.DataType)] =
    Seq("term" -> org.apache.spark.sql.types.StringType) ++
      Seq("doc_id", "dl", "tf", "seq").map(_ -> org.apache.spark.sql.types.LongType)

  /** The resident generation serving `path`: loaded once per key, the
    * path's entry replaced when the key changes and dropped when the
    * stats file is gone. None for a token-less index, a missing one, one
    * above the bound, and one whose key kept moving through three loads.
    *
    * The token is read before the pointer and every mutator writes it
    * last, so a load under a token holds every write of the mutation
    * that wrote it. A load is kept only if the key still holds after it:
    * a compaction deletes the generation it replaced only after flipping
    * the pointer, so a load torn (or failed) by that delete sees the key
    * move and is retried under the new one. Two racing first searches
    * may both load; they load the same generation.
    */
  private def residentGeneration(spark: SparkSession,
                                 path: String): Option[Generation] = {
    def keyNow(): Option[(Stats, GenKey)] = statsOpt(spark, path).flatMap(st =>
      st.layout.map(l => (st, GenKey(activeDataDir(spark, path), l.token))))
    @annotation.tailrec
    def attempt(n: Int): Option[Generation] = keyNow() match {
      case None => held.remove(path); None
      case Some((st, key)) =>
        Option(held.get(path)).filter(_.key == key) match {
          case Some(h) => h.gen
          case None =>
            val loaded =
              try Right(loadGeneration(spark, path, key, st))
              catch { case e: Exception => Left(e) }
            if (keyNow().map(_._2).contains(key)) loaded match {
              case Right(h) => held.put(path, h); h.gen
              case Left(e) => throw e
            }
            else if (n < 2) attempt(n + 1)
            else None
        }
    }
    attempt(0)
  }

  /** Load the generation `key` names: the postings files' footers, read
    * on the driver, give the row count (above the bound: no rows are
    * read) and are checked against the recorded layout; then ONE collect
    * of the live rows (tombstoned rows, `del_seq > seq`, dropped).
    */
  private def loadGeneration(spark: SparkSession, path: String, key: GenKey,
                             st: Stats): Held = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{NullType, StructField, StructType}
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"${key.dir}/postings")
    val fs = root.getFileSystem(conf)
    fs.getFileStatus(root) // no postings dir fails, as the Spark plan's read does
    val footers = fs.globStatus(new org.apache.hadoop.fs.Path(root,
        "bucket=*/part-*.parquet")).toSeq.map { f =>
      f.getPath -> org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
        f.getPath,
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    }
    val rows = footers.map(_._2.getBlocks.asScala.map(_.getRowCount).sum).sum
    if (rows > graft.plans.StatsFileIndex.DefaultMaxDriverRows)
      return Held(key, None)
    val types = footers.map { case (f, meta) =>
      f -> graft.plans.StatsFileIndex.footerSchema(spark, f, meta).fields
        .map(x => x.name -> x.dataType).toMap }
    // attr types are not recorded: the first file's, held by every file
    val firstTypes = types.headOption
      .fold(Map.empty[String, org.apache.spark.sql.types.DataType])(_._2)
    val expected = ResidentCore ++ st.layout.get.attrs.map(a =>
      a -> firstTypes.getOrElse(a, NullType))
    types.foreach { case (f, ts) =>
      val off = expected.collect { case (c, t) if !ts.get(c).contains(t) => c }
      if (off.nonEmpty) throw new IllegalStateException(s"postings file $f " +
        s"of the text index at $path does not match its recorded layout " +
        s"$LayoutVersion: ${off.mkString(", ")} missing or of another " +
        "type; rebuild with saveTextIndex")
    }
    val schema = StructType(expected.map { case (c, t) => StructField(c, t) })
    val postings =
      if (footers.isEmpty) Map.empty[String, Array[Row]]
      else IndexTombstones.applyDeletes(spark, path, spark.read.schema(schema)
          .parquet(footers.map(_._1.toString): _*), "doc_id")
        .collect().groupBy(_.getString(0))
    Held(key, Some(new Generation(st.nDocs, st.sumDl, schema, postings)))
  }

  /** Batched BM25 against the persisted index: score a whole QUERY SET —
    * `queryTerms` = (q_id, term) rows — in ONE pruned postings pass over
    * the union of the batch's term buckets, amortizing the index probe
    * the way production retrieval does. Contract difference from the
    * single-query path: each term's contribution lands on the 10⁻⁶ grid
    * BEFORE the per-(q_id, doc) sum (`floor(contrib·10⁶)` summed as
    * BIGINT — the lmScore convention), so the distributed sum is exact
    * in any order without a per-query pivot; the single-query scorer
    * grids only the total, making the two scorers distinct operators by
    * contract. df/N/avgdl stay corpus-global (the filtered-search
    * convention), computed once for the whole batch.
    *
    * Scale shape: postings read = union-of-terms bucket pruning (static
    * IN-list); scoring joins postings to the (q_id, term) table on the
    * term key (AQE sizes it — broadcast for interactive batches, shuffle
    * for offline mega-batches); per-query selection via the TopKPerGroup
    * heap; ranks over ≤ kLex survivors per query.
    *
    * Returns (q_id, doc_id, score_micro, rk), rk 1-based per q_id.
    */
  def bm25SearchPersistedBatch(spark: SparkSession, path: String,
                               queryTerms: DataFrame, kLex: Int,
                               k1: Double = 1.2, b: Double = 0.75,
                               where: Option[Column] = None,
                               perQueryWhere: Map[Long, Column] =
                                 Map.empty): DataFrame = {
    val (nDocs, sumDl, nb, maybeDup) = readStatsFull(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val qt = queryTerms.select(col("q_id"), col("term")).distinct()
    // the batch's term vocabulary: driver-bounded by contract (a query
    // workload's distinct terms), the same static-IN-list pruning lever
    // as the single-query path. Deduplicate on the DRIVER — the term set
    // is bounded (≤ 64 per the scorer contract), and a `.distinct()`
    // before the collect plans an exchange, turning a LocalTableScan
    // collect into a two-stage Spark job per batch search.
    val terms = queryTerms.select("term").as[String].collect().toSeq.distinct
    require(terms.nonEmpty, "queryTerms must be non-empty")
    val bks = termBucketsLocal(terms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
    // duplicate-collapse BEFORE df + scoring — but ONLY when the stats
    // flag says a replay is possible: a clean-built index (fresh save /
    // repair compaction, no append since) skips the exchange entirely
    val all0 = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    val all = if (maybeDup) collapseDupPostings(all0) else all0
    // `where` restricts CANDIDATES under corpus-global df/N/avgdl — the
    // same filtered-search convention as the single-query path
    val live = where.map(all.filter).getOrElse(all)
    val dfreq = all.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl)))
    val perTerm = live.join(broadcast(dfreq), "term")
      .withColumn("c_micro",
        floor(idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom *
          lit(1000000.0)).cast("long"))
    // PER-QUERY filters compose with (and after) the global `where`:
    // each query's predicate evaluates on ITS candidate rows once the
    // q_id association exists — same corpus-global-stats convention
    // (filters change which docs may answer, never how informative a
    // term is). Queries absent from the map are unfiltered.
    val associated = perTerm.join(qt, "term")
    val filtered =
      if (perQueryWhere.isEmpty) associated
      else associated.filter(perQueryWhere.foldLeft(lit(true)) {
        case (acc, (qid, pred)) => when(col("q_id") === qid, pred)
          .otherwise(acc)
      })
    val scored = filtered
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("c_micro")).as("score_micro"))
    val top = graft.operators.TopK.perGroup(scored, Seq(col("q_id")),
      Seq(col("score_micro").desc, col("doc_id").asc), kLex)
    top.withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("score_micro").desc, col("doc_id").asc))
      .cast("long"))
  }

  /** FACET counts for a term query — the search-engine facet panel: how
    * many matching documents (docs containing ≥ 1 query term, live)
    * fall under each value of a build-time attribute column. Served
    * entirely from the pruned postings reads: the attrs live inside the
    * posting rows, so this is a distinct-doc count per facet value over
    * |query terms| bucket directories — never a corpus scan, never a
    * metadata join. Returns (facetCol, n_docs).
    */
  def facetCounts(spark: SparkSession, path: String,
                  queryTerms: Seq[String], facetCol: String): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    require(readAttrs(spark, path).contains(facetCol),
      s"facet column '$facetCol' was not persisted at build " +
        s"(attrCols = ${readAttrs(spark, path).mkString(",")})")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val bks = termBucketsLocal(queryTerms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(queryTerms: _*))
    IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
      .select(col("doc_id"), col(facetCol)).distinct()
      .groupBy(col(facetCol)).agg(count(lit(1)).as("n_docs"))
  }

  /** BATCHED facet panels: N term queries — `(q_id, term)` rows — against
    * one build-time attribute column, answered from ONE union-pruned
    * postings pass (the facet twin of [[bm25SearchPersistedBatch]]). A
    * doc counts under `(q_id, facet)` when it contains ≥ 1 of that
    * query's terms and is live. The per-query match sets dedupe through
    * a single distinct on `(q_id, doc_id, facet)` — one keyed shuffle
    * regardless of N, never N separate index reads. Returns
    * (q_id, facetCol, n_docs).
    */
  def facetCountsBatch(spark: SparkSession, path: String,
                       queries: DataFrame, facetCol: String): DataFrame = {
    require(readAttrs(spark, path).contains(facetCol),
      s"facet column '$facetCol' was not persisted at build " +
        s"(attrCols = ${readAttrs(spark, path).mkString(",")})")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val qt = queries.select(col("q_id"), col("term")).distinct()
    // the batch's term vocabulary: driver-bounded by contract (a query
    // workload's distinct terms), the static-IN-list pruning lever —
    // deduplicated on the DRIVER (a .distinct() before the collect plans
    // an exchange: a two-stage job just to read a bounded term list)
    val terms = queries.select("term").as[String].collect().toSeq.distinct
    require(terms.nonEmpty, "queries must be non-empty")
    val bks = termBucketsLocal(terms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
    IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
      .join(broadcast(qt), "term")
      .select(col("q_id"), col("doc_id"), col(facetCol)).distinct()
      .groupBy(col("q_id"), col(facetCol))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** MULTI-FACET panels — every facet column's panel for every query in
    * ONE union-pruned postings pass: the per-(q_id, doc) match set
    * dedupes once carrying ALL the attr columns, then unpivots
    * (facet_col, facet_val) pairs into one hash aggregate. N queries ×
    * K facets costs one postings read and two shuffles total — the
    * "whole left-rail in one query" shape. Facet values stringify (one
    * value column must fit every facet's type). Returns
    * (q_id, facet_col, facet_val, n_docs).
    */
  def facetPanels(spark: SparkSession, path: String, queries: DataFrame,
                  facetCols: Seq[String]): DataFrame = {
    require(facetCols.nonEmpty && facetCols == facetCols.distinct,
      "facetCols must be non-empty and distinct")
    val attrs = readAttrs(spark, path)
    facetCols.foreach(c => require(attrs.contains(c),
      s"facet column '$c' was not persisted at build (attrCols = " +
        s"${attrs.mkString(",")})"))
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val qt = queries.select(col("q_id"), col("term")).distinct()
    val terms = queries.select("term").as[String].collect().toSeq.distinct
    require(terms.nonEmpty, "queries must be non-empty")
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(termBucketsLocal(terms, nb): _*))
      .filter(col("term").isin(terms: _*))
    val matched = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
      .join(broadcast(qt), "term")
      .select(col("q_id") +: col("doc_id") +: facetCols.map(col): _*)
      .distinct()
    matched.select(col("q_id"), explode(map(facetCols.flatMap(c =>
        Seq(lit(c), col(c).cast("string"))): _*))
        .as(Seq("facet_col", "facet_val")))
      .groupBy(col("q_id"), col("facet_col"), col("facet_val"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** SNIPPET windows — the highlighting primitive: for every matching
    * live doc, the best fixed-width token window, where best maximizes
    * the number of DISTINCT query terms whose occurrence falls inside
    * `[start, start + width)` and ties break to the smallest start (the
    * earliest densest passage). Computed ENTIRELY from the pruned
    * positional postings — the corpus text is never re-read; callers
    * join `doc_id` back to storage for the final k docs only, which is
    * the part that stays cheap at 100 TB.
    *
    * Only window starts anchored at an occurrence of a query term need
    * checking (any other window's coverage is dominated by sliding
    * right to its first contained occurrence), so per doc the work is
    * |occurrences of query terms|² in the worst case over BOUNDED
    * arrays — the HOF lambdas evaluate interpreted (Spark HOFs don't
    * codegen) but only ever touch the query terms' postings, the same
    * contract as the phrase path. Returns
    * (doc_id, n_terms, win_start), n_terms ≥ 1.
    */
  def snippetWindows(spark: SparkSession, path: String,
                     queryTerms: Seq[String], width: Int,
                     maxOccurrences: Int = 5000): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    require(width >= 1 && maxOccurrences >= 1,
      "width and maxOccurrences must be >= 1")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val bks = termBucketsLocal(queryTerms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(queryTerms: _*))
    val live = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    // duplicate live rows per (doc, term) collapse first — the same
    // at-least-once degradation contract as the phrase paths. Each
    // term's occurrence list then truncates to its EARLIEST
    // `maxOccurrences` (sorted, so the analyzed prefix — Lucene's
    // max_analyzed_offset convention): the window scan is
    // |occurrences|² per doc, and one pathological doc repeating a
    // query term 10⁵ times must cost a bounded analysis, not a 10¹⁰-op
    // straggler task. Default 5000 is far above real prose; results
    // only change for docs past the cap, by construction.
    val byDoc = live.groupBy(col("doc_id"), col("term"))
      .agg(slice(sort_array(array_distinct(flatten(
        collect_list(col("positions"))))), 1, maxOccurrences)
        .as("positions"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("term"), col("positions"))).as("tl"))
    // candidate anchors = every occurrence of any query term; coverage
    // of the window starting at anchor p = #terms with an occurrence in
    // [p, p+width). array_max over struct(cov, -start) picks max
    // coverage then min start — one pass, no per-doc sort.
    val anchors = array_distinct(flatten(transform(col("tl"),
      s => s.getField("positions"))))
    val scored = transform(anchors, p => struct(
      size(filter(col("tl"), s => exists(s.getField("positions"),
        q => q >= p && q < p + lit(width)))).as("cov"),
      (-p).as("neg_start")))
    val best = array_max(scored)
    byDoc.select(col("doc_id"),
      best.getField("cov").cast("long").as("n_terms"),
      (-best.getField("neg_start")).cast("long").as("win_start"))
  }

  /** MULTI-PASSAGE highlighting — up to `p` NON-OVERLAPPING best windows
    * per matching doc (the Lucene passage-formatter shape: a long doc
    * shows several hit regions, not one): greedy selection by
    * (coverage desc, start asc), each later passage's start at least
    * `width` away from every already-chosen start. The greedy rounds
    * unroll into `p` column expressions over the bounded per-doc anchor
    * array (same pruned positional read and `maxOccurrences` analysis
    * cap as [[snippetWindows]]). The selection is DETERMINISTIC over
    * statically-scored anchors, so it IS oracle-gated for fixed p:
    * `q_text_passages` unrolls the rounds as SQL (pick 1 = best window,
    * pick 2 = best anchor ≥ width from pick 1, …); specs cover deeper
    * p. Returns (doc_id, passage_rk, win_start, n_terms),
    * passage_rk 1-based in selection order; docs emit fewer than `p`
    * rows when no eligible anchor remains.
    */
  def snippetPassages(spark: SparkSession, path: String,
                      queryTerms: Seq[String], width: Int, p: Int,
                      maxOccurrences: Int = 5000): DataFrame = {
    require(p >= 1, "p must be >= 1")
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    require(width >= 1, "width must be >= 1")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(termBucketsLocal(queryTerms, nb): _*))
      .filter(col("term").isin(queryTerms: _*))
    val live = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    val byDoc = live.groupBy(col("doc_id"), col("term"))
      .agg(slice(sort_array(array_distinct(flatten(
        collect_list(col("positions"))))), 1, maxOccurrences)
        .as("positions"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("term"), col("positions"))).as("tl"))
    val anchors = array_distinct(flatten(transform(col("tl"),
      s => s.getField("positions"))))
    val scored = transform(anchors, a => struct(
      size(filter(col("tl"), s => exists(s.getField("positions"),
        q => q >= a && q < a + lit(width)))).as("cov"),
      (-a).as("neg_start")))
    // p greedy rounds as ONE aggregate() fold with threaded
    // (avail, picks) state — an unrolled foldLeft would re-inline the
    // whole prior tree in both the pick and the filter and go
    // exponential in p at analysis time (found the hard way: p = 10
    // hung Catalyst); the HOF fold keeps the expression linear.
    val zero = struct(scored.as("avail"),
      slice(scored, 1, 0).as("picks")) // empty array of the same type
    val fin = aggregate(sequence(lit(1), lit(p)), zero, (st, _) => {
      val pick = array_max(st.getField("avail"))
      when(pick.isNull, st).otherwise(struct(
        filter(st.getField("avail"), x =>
          abs(x.getField("neg_start") - pick.getField("neg_start"))
            >= lit(width)).as("avail"),
        concat(st.getField("picks"), array(pick)).as("picks")))
    })
    val passages = fin.getField("picks")
    byDoc.select(col("doc_id"), posexplode(passages).as(Seq("__i", "__p")))
      .select(col("doc_id"), (col("__i") + 1).cast("long").as("passage_rk"),
        (-col("__p").getField("neg_start")).cast("long").as("win_start"),
        col("__p").getField("cov").cast("long").as("n_terms"))
  }

  /** PASSAGE TEXT for the top-k matching docs: [[snippetPassages]]'s
    * windows for the k best docs (by their best passage: n_terms desc,
    * doc_id asc), with ONLY those k docs' text re-read (literal id
    * IN-list pushdown) and each passage's tokens sliced back out — the
    * passage twin of [[snippetText]]. Returns
    * (doc_id, passage_rk, win_start, n_terms, snippet).
    */
  def passagesText(spark: SparkSession, path: String, docs: DataFrame,
                   idCol: String, textCol: String, queryTerms: Seq[String],
                   width: Int, p: Int, k: Int,
                   maxOccurrences: Int = 5000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import spark.implicits._
    val all = snippetPassages(spark, path, queryTerms, width, p,
      maxOccurrences)
    val ids = all.filter(col("passage_rk") === 1)
      .orderBy(col("n_terms").desc, col("doc_id").asc)
      .limit(k).select("doc_id").as[Long].collect().toSeq
    val top = all.filter(col("doc_id").isin(ids: _*))
    docs.filter(col(idCol).cast("long").isin(ids: _*))
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("passage_rk"), col("win_start"),
        col("n_terms"),
        concat_ws(" ", slice(col("__tk"),
          (col("win_start") + 1).cast("int"), lit(width))).as("snippet"))
  }

  /** PHRASE search against the positional postings: documents where the
    * terms occur CONSECUTIVELY, with the exact occurrence count —
    * `phrase_tf = |{p : p ∈ pos(t₀) ∧ p+1 ∈ pos(t₁) ∧ …}|`. Bag-of-words
    * retrieval can't distinguish "table scan" from "scan … table";
    * positions make adjacency a postings intersection instead of a
    * re-read of the corpus text.
    *
    * Plan shape: the phrase's (distinct) terms drive the same
    * bucket-pruned, term-pushed postings read as BM25; per doc the ≤
    * |distinct terms| surviving rows collapse into a term→positions map
    * (bounded rows per group), docs missing any term drop, and one
    * array-filter over the FIRST term's positions checks the adjacency
    * chain. The HOF lambda evaluates interpreted (Spark higher-order
    * functions don't codegen) — acceptable because it only ever runs on
    * the phrase terms' postings, never the corpus; a fused kernel is the
    * upgrade path if phrase volume demands it.
    *
    * Returns (doc_id, phrase_tf), phrase_tf ≥ 1. A single-term "phrase"
    * degenerates to that term's tf.
    */
  /** Batched phrase search: N phrases — `(p_id, tokens)` pairs — in ONE
    * pruned postings pass over the union of all phrases' terms, the
    * batch twin of [[phraseSearchPersisted]]. The phrase structure
    * travels as DATA (a (p_id, slot, term) frame joined to the
    * postings), so the adjacency check is a single HOF over the slot-0
    * positions with a `forall` across the collected slot array — no
    * per-phrase plan branches, no repeated index reads. Repeated-term
    * phrases ("table table") collect the same positions under both
    * slots; overlapping occurrences count, exactly as the single-phrase
    * path. Returns (p_id, doc_id, phrase_tf), phrase_tf ≥ 1.
    */
  def phraseSearchPersistedBatch(spark: SparkSession, path: String,
      phrases: Seq[(Long, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty),
      "phrases must be non-empty")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val slots = phrases.flatMap { case (pid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (pid, i, t) } }
      .toDF("p_id", "slot", "term")
    val nSlots = phrases.map { case (pid, ts) => (pid, ts.length.toLong) }
      .toDF("p_id", "n_slots")
    val terms = phrases.flatMap(_._2).distinct
    val bks = termBucketsLocal(terms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
    val live = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    // collapse duplicate live rows per (doc, term) first — same
    // at-least-once degradation contract as the single-phrase path
    val perTerm = live.groupBy(col("doc_id"), col("term"))
      .agg(sort_array(array_distinct(flatten(
        collect_list(col("positions"))))).as("positions"))
    val byPd = perTerm.join(slots, "term")
      .groupBy(col("p_id"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("slot"),
          col("positions")))).as("sl"),
        count(lit(1)).as("present"))
      .join(nSlots, "p_id")
      // every slot of the phrase must be present in the doc
      .filter(col("present") === col("n_slots"))
    val chain = filter(element_at(col("sl"), 1).getField("positions"),
      p => forall(col("sl"), s =>
        (s.getField("slot") === 0) ||
          array_contains(s.getField("positions"), p + s.getField("slot"))))
    byPd.select(col("p_id"), col("doc_id"),
        size(chain).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
  }

  /** PROXIMITY search (Lucene SpanNear-with-slop): docs containing ALL
    * query terms within a window of at most `slop` tokens, in any
    * order, with each doc's MINIMAL covering span. Phrase search is
    * adjacency-exact and snippet windows are fixed-width; proximity is
    * the third positional primitive — "these words near each other".
    *
    * Classic min-cover over the sorted position lists: the optimal
    * window starts at an occurrence, so for each candidate start p the
    * minimal window is `[p, max over terms of min{x ∈ pos(t) : x ≥ p}]`
    * (undefined when a term has no occurrence ≥ p), and the doc's span
    * is the minimum over starts. Same pruned positional-postings read
    * as the phrase path; the HOFs run on query-term postings only, per
    * term truncated to the earliest `maxOccurrences` (the same
    * analysis-cap convention as [[snippetWindows]]). Returns
    * (doc_id, min_span), min_span ≤ slop.
    */
  def proximitySearch(spark: SparkSession, path: String,
                      queryTerms: Seq[String], slop: Int,
                      maxOccurrences: Int = 5000): DataFrame = {
    require(queryTerms.size >= 2 && queryTerms == queryTerms.distinct,
      "proximity needs >= 2 distinct terms")
    require(slop >= queryTerms.size,
      "slop must be >= the number of terms (the minimum possible span)")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val bks = termBucketsLocal(queryTerms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(queryTerms: _*))
    val live = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    val byDoc = live.groupBy(col("doc_id"), col("term"))
      .agg(slice(sort_array(array_distinct(flatten(
        collect_list(col("positions"))))), 1, maxOccurrences)
        .as("positions"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("term"), col("positions"))).as("tl"),
        count(lit(1)).as("present"))
      .filter(col("present") === queryTerms.size)
    val anchors = array_distinct(flatten(transform(col("tl"),
      s => s.getField("positions"))))
    val spans = transform(anchors, p => {
      val ends = transform(col("tl"), s =>
        array_min(filter(s.getField("positions"), x => x >= p)))
      when(!exists(ends, e => e.isNull), array_max(ends) - p + 1)
    })
    byDoc.select(col("doc_id"),
        array_min(spans).cast("long").as("min_span"))
      .filter(col("min_span") <= slop)
  }

  def phraseSearchPersisted(spark: SparkSession, path: String,
                            phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    val terms = phrase.distinct
    import spark.implicits._
    val bks = termBucketsLocal(terms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
    val live = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    // aggregate positions per (doc_id, term) FIRST: a doc can carry two
    // live posting rows for the same term (at-least-once crash-replay
    // re-append, double append) and map_from_entries throws on duplicate
    // keys — flatten + distinct + sort degrades those rows gracefully
    // (identical positions collapse; the sort restores the ascending
    // order the adjacency filter assumes)
    val byDoc = live
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(array_distinct(flatten(
        collect_list(col("positions"))))).as("positions"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("term"),
        col("positions")))).as("pmap"))
      // every distinct phrase term must be present in the doc
      .filter(terms.map(t => col("pmap").getItem(t).isNotNull)
        .reduceLeft(_ && _))
    val chain = filter(col("pmap").getItem(phrase.head), p =>
      phrase.toIndexedSeq.zipWithIndex.drop(1)
        .map { case (t, i) =>
          array_contains(col("pmap").getItem(t), p + lit(i)) }
        .foldLeft(lit(true))(_ && _))
    byDoc.select(col("doc_id"), size(chain).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
  }

  // ------------------------------------------------------------------
  // Fuzzy term matching: SymSpell-style deletion-neighborhood dictionary
  // ------------------------------------------------------------------

  private val DictStats = "_dict_stats"

  /** Deletion variants of a term at depth 1: the term itself plus every
    * single-character deletion, distinct ("aa" deletes to "a" once).
    * Runs over the VOCABULARY (|distinct terms| rows), never the corpus,
    * so the interpreted HOF is off the hot path by construction.
    */
  private def deletionVariants(term: Column): Column =
    array_distinct(concat(array(term),
      transform(sequence(lit(0), length(term) - 1), i =>
        concat(term.substr(lit(1), i), term.substr(i + lit(2), length(term))))))

  /** Build the FUZZY TERM DICTIONARY — a derived artifact of a text
    * index: one pass over the live postings collapses them to the term
    * vocabulary `(term, df)`, each term expands to its depth-1 deletion
    * neighborhood, and the `(variant, term, df)` rows land bucketed by
    * `pmod(xxhash64(variant), numBuckets)` so a lookup reads only the
    * query's variants' buckets (static pruning, the house pattern).
    *
    * SymSpell's observation makes edit-distance-1 lookup a pair of
    * equi-joins instead of a vocabulary scan: `d(q,t) ≤ 1` implies the
    * depth-1 deletion neighborhoods of q and t intersect (equal → the
    * strings themselves; substitution → deleting the differing position
    * on both sides; insertion/deletion → the longer side's deletion).
    * The neighborhood join is a NECESSARY filter that also admits a few
    * distance-2 pairs (e.g. "ab"→"ba" via ∅); candidates verify with
    * exact `levenshtein` — on the candidate set only, never the
    * vocabulary.
    *
    * Derived-artifact contract: rebuilt after index mutations (build /
    * append / delete / compact) — df and membership are as-of build
    * time. APPEND mutations can instead fold their vocabulary delta
    * incrementally ([[updateTermDictWithAdds]] — O(|vocab|+|batch|),
    * no postings scan; the streaming maintenance path). Publication
    * is the same generation-pointer swap as
    * [[compactTextIndex]] (write `dict.genN`, then flip `dict.current`),
    * so concurrent readers never see a half-written dictionary. The
    * vocabulary is |distinct terms| ≪ corpus and each term yields
    * ≤ len+1 variants, so the artifact stays small even at 100 TB.
    */
  def saveTermDict(spark: SparkSession, idxPath: String, dictPath: String,
                   numBuckets: Int = 64): Unit = {
    val idxDir = activeDataDir(spark, idxPath)
    val posts = IndexTombstones.applyDeletes(spark, idxPath,
      spark.read.parquet(s"$idxDir/postings"), "doc_id")
    val vocab = posts.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    writeDictGeneration(spark, dictPath, vocab, numBuckets)
  }

  /** The generation write shared by [[saveTermDict]] (vocab from live
    * postings) and [[updateTermDictWithAdds]] (vocab from the previous
    * generation + a batch delta): write `dict.genN+1`, flip the
    * pointer, drop the old generation.
    */
  private def writeDictGeneration(spark: SparkSession, dictPath: String,
                                  vocab: DataFrame,
                                  numBuckets: Int): Unit = {
    val fs = fsOf(spark, dictPath)
    val cur = Generations.TermDict.activeName(fs, dictPath)
    val nextName = Generations.TermDict.next(cur)
    vocab.select(explode(deletionVariants(col("term"))).as("variant"),
        col("term"), col("df"))
      .withColumn("bucket", termBucket(col("variant"), numBuckets))
      .repartition(numBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dictPath/$nextName/variants")
    // prefix-partitioned plain term table (one dir per leading char):
    // the autocomplete / leading-literal-regex read path — a prefix
    // query prunes to ONE partition directory statically, and the
    // `startsWith` range predicate pushes into the parquet scan
    vocab.select(col("term"), col("df"),
        substring(col("term"), 1, 1).as("p1"))
      .repartition(col("p1"))
      .write.mode("overwrite").partitionBy("p1")
      .parquet(s"$dictPath/$nextName/terms")
    val nTerms = spark.read.parquet(s"$dictPath/$nextName/terms").count()
    SmallFiles.publish(fs, new org.apache.hadoop.fs.Path(dictPath, DictStats),
      s"$nTerms $numBuckets")
    Generations.TermDict.flip(fs, dictPath, nextName, cur,
      keepPrevious = false)
  }

  /** INCREMENTAL dictionary maintenance for an APPEND batch: fold the
    * batch's vocabulary delta — per-term distinct-doc counts of
    * `addedDocs`, tokenized exactly as the index build — into the
    * previous generation's `(term, df)` table and republish. Work is
    * O(|vocab| + |batch|): the live-postings scan and corpus-wide
    * `count_distinct` that a full [[saveTermDict]] rebuild pays are
    * replaced by one read of the previous terms table. Correctness
    * contract: equals a rebuild as long as the appended docs are NEW
    * ids (the streaming ingest case); a same-id re-append double-counts
    * df exactly like the index's own at-least-once degradation, and a
    * DELETE still requires the full rebuild (df decrements need the
    * live postings) — [[graft.streaming.StreamOps.processTextIndexBatch]]
    * routes each case accordingly.
    */
  def updateTermDictWithAdds(spark: SparkSession, dictPath: String,
                             addedDocs: DataFrame, idCol: String,
                             textCol: String): Unit = {
    val (_, nb) = readDictStats(spark, dictPath)
    val dir = activeDictDir(spark, dictPath)
    val delta = addedDocs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol))))
          .as("term"))
      .groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    val prev = termsFrame(spark, dir)
      .select(col("term"), col("df"))
    val vocab = prev.unionByName(delta).groupBy(col("term"))
      .agg(sum(col("df")).as("df"))
    writeDictGeneration(spark, dictPath, vocab, nb)
  }

  /** Whether a published term dictionary exists at `dictPath`. */
  def termDictExists(spark: SparkSession, dictPath: String): Boolean =
    Generations.TermDict.activeName(fsOf(spark, dictPath), dictPath)
      .isDefined

  private def activeDictDir(spark: SparkSession, dictPath: String): String =
    Generations.TermDict.active(fsOf(spark, dictPath), dictPath)

  /** (nTerms, numBuckets) of a term dictionary. */
  def readDictStats(spark: SparkSession, dictPath: String): (Long, Int) = {
    val s = SmallFiles.read(fsOf(spark, dictPath),
      new org.apache.hadoop.fs.Path(s"$dictPath/$DictStats"))
      .getOrElse(sys.error(s"no $DictStats at $dictPath — not a term dict"))
      .trim.split(" ")
    (s(0).toLong, s(1).toInt)
  }

  /** Fuzzy term lookup: every dictionary term within edit distance
    * `maxDist` of `query`, with its document frequency as of dictionary
    * build. Depth-1 deletion neighborhoods support `maxDist = 1`
    * exactly (deeper neighborhoods are the depth-d upgrade path). The
    * query's ≤ len+1 variants are driver-computed literals — bucket
    * pruning and the variant IN-list are static; the exact
    * `levenshtein` verify touches candidates only. Returns
    * (term, df, dist) — df as of build, dist ∈ {0, 1}.
    */
  def fuzzyTermsPersisted(spark: SparkSession, dictPath: String,
                          query: String, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1,
      "depth-1 deletion dictionary supports maxDist = 1 only")
    require(query.nonEmpty, "query must be non-empty")
    val (_, nb) = readDictStats(spark, dictPath)
    val dir = activeDictDir(spark, dictPath)
    val variants = (query +: query.indices.map(i =>
      query.substring(0, i) + query.substring(i + 1))).distinct
    import spark.implicits._
    val bks = termBucketsLocal(variants, nb)
    variantsFrame(spark, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("variant").isin(variants: _*))
      .select(col("term"), col("df")).distinct()
      .withColumn("dist", levenshtein(lit(query), col("term")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** FACET METRICS — the terms-aggregation-with-sub-metrics panel: per
    * facet value of the matching docs, the doc count plus exact SUM and
    * min/max of a postings-resident numeric attribute (the "avg price
    * per brand for this query" shape). Same pruned-postings serving
    * contract as [[facetCounts]]; the numeric dedupes per doc before
    * aggregating (a doc matching three query terms counts once). Sums
    * stay BIGINT-exact; callers derive averages from (sum_v, n_docs).
    * Returns (facetCol, n_docs, sum_v, min_v, max_v).
    */
  def facetMetrics(spark: SparkSession, path: String,
                   queryTerms: Seq[String], facetCol: String,
                   numCol: String): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    val attrs = readAttrs(spark, path)
    require(attrs.contains(facetCol) && attrs.contains(numCol),
      s"facet '$facetCol' and metric '$numCol' must both be persisted " +
        s"at build (attrCols = ${attrs.mkString(",")})")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(termBucketsLocal(queryTerms, nb): _*))
      .filter(col("term").isin(queryTerms: _*))
    IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
      .select(col("doc_id"), col(facetCol),
        col(numCol).cast("long").as("__v")).distinct()
      .groupBy(col(facetCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__v")).as("sum_v"),
        min(col("__v")).as("min_v"), max(col("__v")).as("max_v"))
  }

  /** BOOLEAN query — the Lucene must / should / must_not contract with
    * `minimum_should_match`, answered from ONE pruned postings pass
    * over the union of all three clauses' terms:
    *
    *   - a doc qualifies iff it contains EVERY `must` term, NO
    *     `mustNot` term, and ≥ `minShouldMatch` distinct `should`
    *     terms (when `should` is empty the constraint is vacuous);
    *   - the score is the BM25 sum over the doc's matching must+should
    *     terms, per-term 10⁻⁶ floors before the BIGINT sum (the
    *     order-free batch grid — oracles need no term pivot);
    *   - mustNot terms never score; df/N/avgdl stay corpus-global.
    *
    * The clause flags ride the per-term rows into a single hash
    * aggregate (conditional counts + conditional sum) — clause logic
    * adds no join and no extra shuffle over plain BM25. Returns
    * (doc_id, n_should, score_micro, rk).
    */
  def booleanSearchPersisted(spark: SparkSession, path: String,
                             must: Seq[String], should: Seq[String],
                             mustNot: Seq[String], k: Int,
                             minShouldMatch: Int = 0,
                             k1: Double = 1.2, b: Double = 0.75,
                             mustPhrase: Seq[String] = Nil): DataFrame = {
    val all = (must ++ should ++ mustNot).distinct
    require(all.nonEmpty, "at least one clause term required " +
      "(a pure phrase query is phraseSearchPersisted)")
    // PURE-NEGATION guard: with no positive clause the index can only
    // see docs that CONTAIN a mustNot term (postings are pruned to the
    // clause terms), so every answer doc is invisible and the result
    // would be silently empty — a wrong answer, not an empty one. The
    // matching-docs universe must come from the corpus side: anti-join
    // `docs` against the mustNot terms' postings instead.
    require((must ++ should).nonEmpty,
      "pure-negation query (must and should both empty): the inverted " +
        "index cannot enumerate docs LACKING a term — anti-join the " +
        "corpus against the mustNot postings instead")
    require(must.intersect(mustNot).isEmpty && should.intersect(mustNot).isEmpty,
      "mustNot terms cannot also be must/should")
    require(must.intersect(should).isEmpty,
      "a term cannot be both must and should")
    val (nDocs, sumDl, nb, maybeDup) = readStatsFull(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val bks = termBucketsLocal(all, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(all: _*))
    // duplicate-collapse BEFORE df + conditional sums — flag-gated like
    // the batch scorer: clean-built indexes skip the exchange
    val live0 = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
    val live = if (maybeDup) collapseDupPostings(live0) else live0
    val scoring = must ++ should
    val dfreq = live.filter(col("term").isin(scoring: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl)))
    val flagged = live
      .join(broadcast(dfreq), Seq("term"), "left")
      .withColumn("c_micro", when(col("df").isNotNull,
        floor(idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom *
          lit(1000000.0)).cast("long")).otherwise(lit(0L)))
    val byDoc = flagged.groupBy(col("doc_id")).agg(
      count_distinct(when(col("term").isin(must: _*), col("term")))
        .as("n_must"),
      count_distinct(when(col("term").isin(should: _*), col("term")))
        .as("n_should"),
      count_distinct(when(col("term").isin(mustNot: _*), col("term")))
        .as("n_not"),
      sum(when(col("term").isin(scoring: _*), col("c_micro"))
        .otherwise(lit(0L))).as("score_micro"))
    val kept0 = byDoc
      .filter(col("n_must") === must.distinct.size)
      .filter(col("n_not") === 0)
      .filter(if (should.isEmpty) lit(true)
        else col("n_should") >= minShouldMatch)
      .select(col("doc_id"), col("n_should"), col("score_micro"))
    // mustPhrase is a FILTER-context clause (Lucene's non-scoring must):
    // the doc must additionally contain the exact phrase, which neither
    // scores nor rescues a doc with zero scoring-clause terms — pure
    // phrase retrieval is [[phraseSearchPersisted]]'s job. One extra
    // bounded semi-join against the phrase's positional-postings answer.
    val kept =
      if (mustPhrase.isEmpty) kept0
      else kept0.join(
        phraseSearchPersisted(spark, path, mustPhrase).select("doc_id"),
        Seq("doc_id"), "left_semi")
    graft.operators.TopK.rankedLimit(kept,
      Seq(col("score_micro").desc, col("doc_id").asc), k)
  }

  /** NUMERIC RANGE FACET — the histogram panel over a build-time
    * numeric attribute of the matching docs (Elasticsearch's histogram
    * aggregation on a filtered query): matching live docs dedupe to
    * (doc, value), values land in fixed-width bins, one count per
    * occupied bin. Served from the pruned postings reads like every
    * facet — never a corpus scan. Returns (bin, lo, n_docs) with
    * `lo = bin · binWidth`.
    */
  def facetHistogram(spark: SparkSession, path: String,
                     queryTerms: Seq[String], numCol: String,
                     binWidth: Long): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      "queryTerms must be non-empty and distinct")
    require(binWidth >= 1, "binWidth must be >= 1")
    require(readAttrs(spark, path).contains(numCol),
      s"numeric column '$numCol' was not persisted at build " +
        s"(attrCols = ${readAttrs(spark, path).mkString(",")})")
    val (_, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val bks = termBucketsLocal(queryTerms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(queryTerms: _*))
    IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
      .select(col("doc_id"), col(numCol).cast("long").as("__v")).distinct()
      .select(floor(col("__v").cast("double") / lit(binWidth.toDouble))
        .cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_docs"))
      .select(col("bin"), (col("bin") * binWidth).as("lo"), col("n_docs"))
  }

  /** BATCHED fuzzy lookup — N query terms' edit-distance-≤1 matches
    * from ONE variant-pruned dictionary read (the batch twin of
    * [[fuzzyTermsPersisted]]): all queries' deletion variants build one
    * static IN-list, the per-query association is an equi-join on the
    * shared variant, and the exact `levenshtein` verify runs on
    * candidates only. Returns (query, term, df, dist).
    */
  def fuzzyTermsPersistedBatch(spark: SparkSession, dictPath: String,
                               queries: Seq[String],
                               maxDist: Int = 1): DataFrame = {
    require(maxDist == 1,
      "depth-1 deletion dictionary supports maxDist = 1 only")
    require(queries.nonEmpty && queries == queries.distinct &&
      queries.forall(_.nonEmpty), "queries must be non-empty and distinct")
    val (_, nb) = readDictStats(spark, dictPath)
    val dir = activeDictDir(spark, dictPath)
    import spark.implicits._
    val qv = queries.flatMap { q =>
      (q +: q.indices.map(i => q.substring(0, i) + q.substring(i + 1)))
        .distinct.map(v => (q, v))
    }
    val variants = qv.map(_._2).distinct
    val bks = termBucketsLocal(variants, nb)
    variantsFrame(spark, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("variant").isin(variants: _*))
      .join(broadcast(qv.toDF("query", "variant")), "variant")
      .select(col("query"), col("term"), col("df")).distinct()
      .withColumn("dist", levenshtein(col("query"), col("term")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** DID-YOU-MEAN — per query term, the single best correction: an
    * exact vocabulary hit suggests itself; otherwise the most frequent
    * edit-distance-1 term (df desc, ties to the smaller term);
    * otherwise a null suggestion. One batched dictionary probe for the
    * whole query ([[fuzzyTermsPersistedBatch]]), selection over the
    * ≤ |candidates| survivors. Returns (query, suggestion, df) in the
    * caller's term order responsibility (one row per input term).
    */
  def didYouMean(spark: SparkSession, dictPath: String,
                 queryTerms: Seq[String]): DataFrame = {
    import spark.implicits._
    val cand = fuzzyTermsPersistedBatch(spark, dictPath, queryTerms)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query"))
          .orderBy(col("dist").asc, col("df").desc, col("term").asc)))
      .filter(col("rn") === 1)
      .select(col("query"), col("term").as("suggestion"), col("df"))
    queryTerms.toDF("query").join(cand, Seq("query"), "left")
  }

  /** AUTOCOMPLETE — top-k vocabulary completions of a prefix, most
    * frequent first (df desc, term asc): the search-box suggest
    * primitive. Reads the dictionary's prefix-partitioned term table:
    * the leading character prunes to ONE partition directory
    * statically and `startsWith` pushes into the parquet scan as a
    * string range predicate, so a suggestion never scans the
    * vocabulary; the answer is a TakeOrdered of k rows. Returns
    * (term, df).
    */
  def suggestTerms(spark: SparkSession, dictPath: String,
                   prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty && k >= 1, "prefix must be non-empty, k >= 1")
    val dir = activeDictDir(spark, dictPath)
    termsFrame(spark, dir)
      .filter(col("p1") === prefix.substring(0, 1))
      .filter(col("term").startsWith(prefix))
      .select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(k)
  }

  /** Longest literal prefix GUARANTEED to start every match of an
    * ANCHORED regex (`^literals...`): the term-table pruning lever for
    * regex search. Empty when the pattern is unanchored, opens with a
    * metacharacter, or contains an unescaped TOP-LEVEL alternation
    * (`^ab|cd` under find-semantics `rlike` matches any term merely
    * CONTAINING "cd" — no anchored prefix is sound). A quantifier
    * directly after the last literal (`^scan?`, `^ab{0,2}`, `^ab*`)
    * makes that character optional, so it is dropped from the prefix;
    * `+` keeps it (at-least-one). Soundness over tightness: a shorter
    * prefix only prunes less, never drops a matching term.
    */
  private[ml] def literalPrefix(pattern: String): String = {
    if (!pattern.startsWith("^")) return ""
    val body = pattern.drop(1)
    // Unescaped `|` at group-depth 0 outside a character class voids
    // the anchor for the right-hand branch entirely.
    var depth = 0; var inClass = false; var i = 0
    while (i < body.length) {
      val c = body(i)
      if (c == '\\') i += 1 // skip the escaped char
      else if (inClass) { if (c == ']') inClass = false }
      else c match {
        case '['                  => inClass = true
        case '('                  => depth += 1
        case ')'                  => depth = math.max(0, depth - 1)
        case '|' if depth == 0    => return ""
        case _                    =>
      }
      i += 1
    }
    val lit = body.takeWhile(c => !".[](){}\\*+?|^$".contains(c))
    if (lit.nonEmpty && lit.length < body.length &&
        "?*{".contains(body(lit.length)))
      lit.dropRight(1) // `{` handled conservatively: could be `{0,n}`
    else lit
  }

  /** Vocabulary terms matching a regex, with df. The classic log-search
    * "grep the index" path (the reference engine's text-filter queries
    * degrade to regex over raw logs; an inverted index answers them
    * from the dictionary): an anchored literal prefix prunes the term
    * table to one partition + a pushed range predicate, and the regex
    * evaluates over the surviving terms only — an unanchored pattern
    * degrades to a full VOCABULARY scan (|vocab| ≪ corpus), never a
    * corpus scan. Returns (term, df).
    */
  def regexTermMatches(spark: SparkSession, dictPath: String,
                       pattern: String): DataFrame = {
    val dir = activeDictDir(spark, dictPath)
    val base = termsFrame(spark, dir)
    val pre = literalPrefix(pattern)
    val pruned =
      if (pre.isEmpty) base
      else base.filter(col("p1") === pre.substring(0, 1))
        .filter(col("term").startsWith(pre))
    pruned.filter(col("term").rlike(pattern)).select(col("term"), col("df"))
  }

  /** Regex DOCUMENT search served from the index: docs containing ≥ 1
    * vocabulary term matching `pattern`, with how many distinct
    * matching terms each contains and their summed tf. The matched
    * term set collects to the driver (capped at `maxTerms` — fail
    * loudly rather than ship an unbounded IN-list) and drives the same
    * bucket-pruned postings read as every other search. Returns
    * (doc_id, n_terms, tf_sum).
    */
  def regexDocSearch(spark: SparkSession, idxPath: String,
                     dictPath: String, pattern: String,
                     maxTerms: Int = 1000): DataFrame = {
    import spark.implicits._
    val terms = regexTermMatches(spark, dictPath, pattern)
      .select("term").as[String].limit(maxTerms + 1).collect().toSeq
    require(terms.size <= maxTerms,
      s"regex '$pattern' matches more than $maxTerms vocabulary terms — " +
        "tighten the pattern or raise maxTerms")
    if (terms.isEmpty)
      return spark.emptyDataset[(Long, Long, Long)]
        .toDF("doc_id", "n_terms", "tf_sum")
    val (_, _, nb) = readStats(spark, idxPath)
    val dir = activeDataDir(spark, idxPath)
    val bks = termBucketsLocal(terms, nb)
    val posts = postingsFrame(spark, idxPath, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
    IndexTombstones.applyDeletes(spark, idxPath, posts, "doc_id")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("term")).as("n_terms"),
        sum(col("tf")).as("tf_sum"))
  }

  /** SNIPPET TEXT for the TOP-k matching docs: [[snippetWindows]]'s
    * best windows ranked (n_terms desc, doc_id asc), then ONLY those k
    * docs' text re-read (literal id IN-list pushed into the corpus
    * scan — the part that stays cheap at 100 TB) and the window's
    * tokens sliced back out. Returns
    * (doc_id, n_terms, win_start, snippet).
    */
  def snippetText(spark: SparkSession, path: String, docs: DataFrame,
                  idCol: String, textCol: String, queryTerms: Seq[String],
                  width: Int, k: Int,
                  maxOccurrences: Int = 5000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import spark.implicits._
    val top = snippetWindows(spark, path, queryTerms, width, maxOccurrences)
      .orderBy(col("n_terms").desc, col("doc_id").asc)
      .limit(k)
    val ids = top.select("doc_id").as[Long].collect().toSeq
    docs.filter(col(idCol).cast("long").isin(ids: _*))
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("n_terms"), col("win_start"),
        concat_ws(" ", slice(col("__tk"),
          (col("win_start") + 1).cast("int"), lit(width))).as("snippet"))
  }

  /** PSEUDO-RELEVANCE FEEDBACK (Rocchio-style query expansion): run the
    * query, treat its top `rDocs` answers as relevant, mine their most
    * distinctive vocabulary (top `mTerms` by tf·idf over the feedback
    * docs, original terms excluded, idf deletion-exact from the index,
    * 10⁻⁶ grid, ties to the smaller term), and re-search with the
    * expanded term set — recall recovery for under-specified queries,
    * no user interaction needed.
    *
    * Scale shape: the feedback pass re-reads ONLY the `rDocs` answer
    * docs (literal id IN-list pushed into the corpus scan); their
    * vocabulary is driver-bounded by `rDocs` × doc length (the same
    * contract as [[moreLikeThisPersisted]]); the final search is the
    * batch scorer (per-term micro floors → order-free BIGINT sums), so
    * a dynamic term set needs no term-specific oracle pivot. Returns
    * (doc_id, score_micro, rk) — the top `k` under the expanded query.
    */
  def pseudoRelevanceFeedback(spark: SparkSession, path: String,
                              docs: DataFrame, idCol: String,
                              textCol: String, queryTerms: Seq[String],
                              rDocs: Int, mTerms: Int, k: Int): DataFrame = {
    require(rDocs >= 1 && mTerms >= 0 && k >= 1,
      "rDocs, k must be >= 1; mTerms >= 0")
    val (nDocs, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val ids = bm25SearchPersisted(spark, path, queryTerms, rDocs)
      .select("doc_id").as[Long].collect().toSeq
    val fb = docs.filter(col(idCol).cast("long").isin(ids: _*))
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    // ≤ rDocs × doc length distinct terms — driver-bounded by contract
    val cand = fb.select("term").as[String].collect().toSeq
    val expansion = if (cand.isEmpty) Nil else {
      val posts = postingsFrame(spark, path, dir)
        .filter(col("bucket").isin(termBucketsLocal(cand, nb): _*))
        .filter(col("term").isin(cand: _*))
      val dfreq = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val idf = log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      fb.join(dfreq, "term")
        .withColumn("tfidf_micro",
          floor(col("tf").cast("double") * idf * lit(1000000.0))
            .cast("long"))
        .orderBy(col("tfidf_micro").desc, col("term").asc)
        .limit(mTerms)
        .select("term").as[String].collect().toSeq
    }
    val qset = (queryTerms ++ expansion).map(t => (0L, t))
      .toDF("q_id", "term")
    bm25SearchPersistedBatch(spark, path, qset, kLex = k)
      .select(col("doc_id"), col("score_micro"), col("rk"))
  }

  /** MORE-LIKE-THIS: retrieve the docs most similar to a source doc by
    * its own most distinctive vocabulary — the source doc's top-m
    * tf·idf terms (idf deletion-exact from the index's live postings,
    * scored on the 10⁻⁶ grid, ties to the lexicographically smaller
    * term) become a BM25 query against the index, the source doc
    * excluded from the answer.
    *
    * Scale shape: the source doc reads via predicate pushdown on its id
    * (one row), its distinct terms are bounded by its length (the same
    * driver-bounded contract as user query terms), df for those terms
    * comes from the pruned postings read, and the search leg is
    * [[bm25SearchPersistedBatch]] — per-term 10⁻⁶ floors before the
    * order-free BIGINT sum, so the oracle needs no term-specific pivot.
    * Returns (doc_id, score_micro, rk) over the non-source docs.
    */
  def moreLikeThisPersisted(spark: SparkSession, path: String,
                            docs: DataFrame, idCol: String, textCol: String,
                            docId: Long, mTerms: Int, k: Int): DataFrame = {
    require(mTerms >= 1 && k >= 1, "mTerms and k must be >= 1")
    val (nDocs, _, nb) = readStats(spark, path)
    val dir = activeDataDir(spark, path)
    import spark.implicits._
    val srcTf = docs.filter(col(idCol).cast("long") === docId)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    // ≤ |distinct terms of one doc| — driver-bounded by contract
    val terms = srcTf.select("term").as[String].collect().toSeq
    require(terms.nonEmpty, s"doc $docId not found or empty")
    val bks = termBucketsLocal(terms, nb)
    val posts = postingsFrame(spark, path, dir)
      .filter(col("bucket").isin(bks: _*))
      .filter(col("term").isin(terms: _*))
    val dfreq = IndexTombstones.applyDeletes(spark, path, posts, "doc_id")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val top = srcTf.join(dfreq, "term")
      .withColumn("tfidf_micro",
        floor(col("tf").cast("double") * idf * lit(1000000.0)).cast("long"))
      .orderBy(col("tfidf_micro").desc, col("term").asc)
      .limit(mTerms)
      .select(lit(0L).as("q_id"), col("term"))
    graft.operators.TopK.rankedLimit(
      bm25SearchPersistedBatch(spark, path, top, kLex = k + 1)
        .filter(col("doc_id") =!= docId)
        .drop("q_id", "rk"),
      Seq(col("score_micro").desc, col("doc_id").asc), k)
  }
}
