package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * All hashing is built on a *portable* 60-bit hash (`md5` hex prefix →
  * integer) so an external SQL engine can replicate results bit-for-bit —
  * the correctness oracle recomputes every signature independently.
  *
  * Scale design (100 TB): every operator is expressed as narrow projections
  * plus at most one shuffle:
  *   - exact: one hash-groupBy (map-side partial aggregation).
  *   - Jaccard/MinHash-LSH: explode to (key, doc) pairs, shuffle by key,
  *     join within key groups — never an all-pairs cartesian. High-frequency
  *     shingles (stop-shingles) can be dropped via `maxShingleFreq` to bound
  *     the per-key group size (skew guard).
  *   - SimHash: pure per-row column arithmetic, no shuffle.
  */
object Dedup {

  /** Modulus for MinHash permutations: 2^31-1 (Mersenne prime). Keeping
    * hashes < 2^31 means `a*x+b` stays well inside Int64 — no overflow in
    * either Spark or the oracle engine.
    */
  val Prime: Long = 2147483647L

  /** Deterministic (a, b) pairs for the k=16 MinHash permutations
    * `h_i(x) = (a_i * x + b_i) mod Prime`. LCG-style constants — fixed, so
    * signatures are reproducible everywhere.
    */
  val minhashParams: Seq[(Long, Long)] =
    (1 to 16).map(i => ((i * 1103515245L + 12345L) % Prime,
                        (i * 1000003L + 7L) % Prime))

  /** LSH banding: 4 bands × 4 rows over the 16 signatures. Collision
    * probability per band = jaccard^4 — at j=0.9 a pair collides in ≥1 band
    * with p ≈ 1-(1-0.656)^4 ≈ 0.986.
    */
  val numBands = 4
  val bandRows = 4

  /** Portable 60-bit hash: integer value of the first 15 hex chars of md5.
    * Native kernel ([[graft.functions.Hash60]]) — bit-identical to the
    * `conv(substring(md5(cast … binary), 1, 15), 16, 10)` chain it
    * replaces, without materializing the hex string per row.
    */
  def hash60(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.Hash60(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Whitespace/case-normalized text (the exact-dedup canonical form).
    * Native single-pass kernel ([[graft.functions.NormText]]) —
    * bit-identical to `regexp_replace(trim(lower(text)), "\\s+", " ")`
    * without walking every document through the regex engine.
    */
  def normText(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.NormText(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** First `n` codepoints of [[normText]] (`substring(normText(c), 1, n)`)
    * with an early stop once `n` normalized chars exist — the
    * edit-distance blocker reads 80 chars of multi-KB documents.
    */
  def normTextPrefix(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.NormText(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), n))

  // ------------------------------------------------------------ exact dedup

  /** Exact duplicate groups: md5 over normalized text, one row per distinct
    * content with the canonical (minimum) id and the duplicate count.
    * One hash-shuffle; partial aggregation happens map-side.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normText(col(textCol)).cast("binary")).as("fp_md5"))
      .groupBy(col("fp_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup with a quality-aware canonical policy: per content
    * fingerprint keep the row maximizing `score` (ties broken by minimum
    * id), instead of [[exactGroups]]'s lowest-id-wins. Real pipelines keep
    * the longest / highest-quality variant of a duplicated page, not an
    * arbitrary one (reference keeps nothing — dedup is ours; policy follows
    * RefinedWeb/Dolma practice).
    *
    * Output: (fp_md5, keep_id, score, dup_count).
    *
    * Scale: ONE hash-shuffle with map-side partial aggregation — the argmax
    * rides a single struct-`max` (lexicographic on (score, -id)), so no
    * per-group sort or window, unlike a row_number() formulation. The id
    * negation assumes ids > Long.MinValue (any non-negative id scheme).
    */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
      score: Column): DataFrame =
    df.select(col(idCol).cast("long").as("_id"), score.as("_score"),
        md5(normText(col(textCol)).cast("binary")).as("fp_md5"))
      .groupBy(col("fp_md5"))
      .agg(
        max(struct(col("_score").as("s"), (-col("_id")).as("nid"))).as("best"),
        count(lit(1)).as("dup_count"))
      .select(col("fp_md5"), (-col("best.nid")).cast("long").as("keep_id"),
        col("best.s").as("score"), col("dup_count"))

  // ------------------------------------------------------- shingle plumbing

  /** Per-doc distinct shingle-hash array: (id, sh: array<long>, sz).
    *
    * `portableHash=true` uses the md5-based [[hash60]] (mod [[Prime]]) — an
    * external engine can replicate every value, which MinHash signatures
    * require. `portableHash=false` uses codegen'd `xxhash64` — ~10× cheaper
    * and correct for pure set-similarity (Jaccard over hashed shingles is
    * invariant to the hash function, collisions aside).
    */
  def shingleHashFrame(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, portableHash: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val shingleArr = TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n)
    // native array-hash kernels, NOT `transform(arr, lambda)`: higher-order
    // functions are CodegenFallback (interpreted per element) and knock the
    // whole enclosing stage out of codegen — bit-identical values, ~one
    // static call per row (see HashArrayExprs)
    val sh = ColumnBridge.column(
      if (portableHash)
        graft.functions.Hash60ModArray(ColumnBridge.expression(shingleArr), Prime)
      else graft.functions.XxHash64Array(ColumnBridge.expression(shingleArr)))
    // Filter BEFORE the projection, on the cheap token COUNT: `sz > 0` ⇔
    // (≥ n tokens) because `ngrams` is empty exactly below n tokens and
    // the hashes are never null. Filtering on the projected `sz` instead
    // pushes the ENTIRE shingle pipeline into the Filter condition (plus
    // constraint-inferred copies — measured 5 kernel evaluations per row);
    // the count kernel scans the string without allocating tokens.
    // (scan fan-out was tried here and removed: with the native hash
    // kernels the pre-shuffle work is cheap enough that the extra
    // exchange measured as a net loss across the shingle family)
    df.filter(ColumnBridge.column(graft.functions.TokenCount(
        ColumnBridge.expression(col(textCol)))) >= n)
      .select(col(idCol).as("id"), array_distinct(sh).as("sh"))
      // coalesce never fires (sh is non-null whenever tokencount ≥ n) but
      // makes `sz` provably NON-NULLABLE, so InferFiltersFromConstraints
      // stops synthesizing an `isnotnull(sz)` that predicate pushdown
      // would substitute into one more per-row copy of the whole
      // tokenize→ngram→hash pipeline at the scan
      .withColumn("sz", coalesce(size(col("sh")), lit(-1)).cast("long"))
  }

  /** Exploded (shingle-hash, id) pairs, optionally dropping shingles that
    * occur in more than `maxShingleFreq` docs (skew guard for the join key —
    * a shingle shared by millions of docs would otherwise create a quadratic
    * group; near-dup signal from such stop-shingles is ~zero anyway).
    */
  private def explodedShingles(sets: DataFrame,
                               maxShingleFreq: Option[Long]): DataFrame = {
    val ex = sets.select(col("id"), col("sz"), explode(col("sh")).as("shingle"))
    maxShingleFreq match {
      case None => ex
      case Some(f) =>
        // one extra shuffle on the same key; at scale this is the difference
        // between bounded and unbounded join groups
        val freq = ex.groupBy("shingle").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= f).drop("df_")
        ex.join(freq, "shingle")
    }
  }

  /** Pairs (id_a < id_b) with n-gram Jaccard ≥ threshold. Shuffle is by
    * shingle (intersection counts) then by pair — no cartesian product.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxShingleFreq: Option[Long] = None): DataFrame = {
    // the shingle pipeline feeds both join sides UNPERSISTED: with the
    // native tokenize/ngram kernels the recompute is scan-bound and
    // embarrassingly parallel, while a corpus-scale cache would pin
    // executor storage (and leak across calls — nothing here can know
    // when the caller is done with the result)
    val sets = shingleHashFrame(df, idCol, textCol, n, portableHash = false)
    // set sizes ride along through the explode (one extra long per shuffle
    // row) — grouping by them is free (functionally determined by the ids)
    // and saves two whole set-side joins after the aggregation
    val ex = explodedShingles(sets, maxShingleFreq)
    val a = ex.select(col("shingle"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = ex.select(col("shingle"), col("id").as("id_b"), col("sz").as("sz_b"))
    // shuffled-hash beats sort-merge here: both sides are the same exploded
    // frame, per-shingle groups are small (bounded by maxShingleFreq at
    // scale), and skipping the two full sorts is a ~35% win (stage timing
    // of this pipeline, sf0.1); AQE would otherwise default to SMJ
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  /** Bipartite (incremental) Jaccard dedup: near-dup pairs between a NEW
    * batch and an existing REFERENCE corpus — the shape of continuous
    * training-data ingestion, where each arriving batch is deduplicated
    * against everything already kept instead of re-running the full
    * self-join. Output: (new_id, ref_id, inter, jaccard ≥ threshold).
    *
    * Same single-shuffle shingle-key join as [[jaccardPairs]], but the join
    * is new×ref only — no new×new or ref×ref work, so per-batch cost is
    * O(batch shingles + touched ref shingles), not O(corpus²). At scale the
    * reference side's exploded shingles can be written once (bucketed by
    * shingle) and reused every batch.
    */
  def jaccardAgainstReference(newDocs: DataFrame, refDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5,
      maxShingleFreq: Option[Long] = None): DataFrame = {
    val newSets = shingleHashFrame(newDocs, idCol, textCol, n, portableHash = false)
    val refSets = shingleHashFrame(refDocs, idCol, textCol, n, portableHash = false)
    val exNew = explodedShingles(newSets, maxShingleFreq)
      .select(col("shingle"), col("id").as("new_id"), col("sz").as("sz_new"))
    val exRef = explodedShingles(refSets, maxShingleFreq)
      .select(col("shingle"), col("id").as("ref_id"), col("sz").as("sz_ref"))
    exNew.hint("shuffle_hash").join(exRef.hint("shuffle_hash"), Seq("shingle"))
      .groupBy(col("new_id"), col("ref_id"), col("sz_new"), col("sz_ref"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_new") + col("sz_ref") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("ref_id"), col("inter"), col("jaccard"))
  }

  /** Persist the reference side of incremental dedup as a SHINGLE INDEX:
    * the exploded (shingle, ref_id, sz_ref) pairs written once, partitioned
    * on disk by `bucket = shingle mod numBuckets` — the "written once
    * (bucketed by shingle) and reused every batch" shape
    * [[jaccardAgainstReference]]'s contract promises.
    *
    * Scale rationale (100 TB): without the index every arriving batch
    * re-tokenizes, re-shingles and re-explodes the ENTIRE reference corpus
    * (corpus-sized compute per batch). With it, the corpus side is a
    * parquet read of only the bucket partitions the batch's own shingles
    * touch — per-batch cost is O(batch) + O(touched index buckets), and
    * appending newly kept docs is an append of their exploded shingles
    * into the same layout.
    *
    * `maxShingleFreq` (skew guard) is applied at BUILD time, so stop-shingle
    * hot keys never enter the index at all.
    */
  def saveShingleIndex(refDocs: DataFrame, idCol: String, textCol: String,
                       path: String, n: Int = 3, numBuckets: Int = 64,
                       maxShingleFreq: Option[Long] = None): Unit = {
    val sets = shingleHashFrame(refDocs, idCol, textCol, n, portableHash = false)
    explodedShingles(sets, maxShingleFreq)
      .select(col("id").as("ref_id"), col("sz").as("sz_ref"), col("shingle"),
        pmod(col("shingle"), lit(numBuckets.toLong)).cast("int").as("bucket"))
      .withColumn("seq", lit(0L)) // deletion-epoch stamp, see deleteFromShingleIndex
      // co-locate each bucket before the partitioned write: ONE file per
      // bucket directory instead of one per (writer task × bucket) — a
      // probe otherwise pays numBuckets × parallelism file opens, and at
      // corpus scale the index would be millions of KB-sized files
      .repartition(numBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/shingles")
    // a REBUILD must become visible and forget deletion state: clear
    // tombstones first, then the generation pointer and stale gen dirs
    val spark = refDocs.sparkSession
    IndexTombstones.reset(spark, path)
    Generations.Shingles.reset(IndexTombstones.fsOf(spark, path), path)
  }

  /** Delete documents from a persisted [[saveShingleIndex]] — the
    * data-removal half of the incremental-dedup lifecycle (a takedown of
    * a reference doc must stop it from suppressing future near-dups of
    * itself). Same tombstone/epoch contract as
    * [[Similarity.deleteFromAnnIndex]] (shared [[IndexTombstones]]):
    * probes anti-join the log at read time, [[compactShingleIndex]]
    * purges physically, a rebuild resets.
    */
  def deleteFromShingleIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, ids: DataFrame,
                             idCol: String): Unit =
    IndexTombstones.logDeletes(spark, path, ids, idCol, "ref_id")

  /** Append newly KEPT documents' shingles to a [[saveShingleIndex]]
    * layout — the maintenance half of the index lifecycle: probe a batch,
    * keep the novel docs, append their shingles so the NEXT batch
    * dedups against them too. Append-mode write into the same
    * bucket-partitioned directories (small per-batch files; compact
    * periodically by rewriting a bucket partition).
    *
    * `maxShingleFreq` here sees only THIS batch's frequencies — corpus-wide
    * stop-shingle suppression belongs in the initial build (and periodic
    * compaction), not the per-batch append.
    */
  def appendToShingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           path: String, n: Int = 3, numBuckets: Int = 64,
                           maxShingleFreq: Option[Long] = None): Unit = {
    val sets = shingleHashFrame(docs, idCol, textCol, n, portableHash = false)
    explodedShingles(sets, maxShingleFreq)
      .select(col("id").as("ref_id"), col("sz").as("sz_ref"), col("shingle"),
        pmod(col("shingle"), lit(numBuckets.toLong)).cast("int").as("bucket"),
        lit(IndexTombstones.readEpoch(docs.sparkSession, path)).as("seq"))
      .repartition(numBuckets, col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(activeShingleDir(docs.sparkSession, path))
  }

  /** Resolve the active shingle data directory of an index root: the
    * generation `shingles.current` names, or the original `shingles` dir
    * when no compaction has happened yet ([[Generations]]).
    */
  def activeShingleDir(
      spark: org.apache.spark.sql.SparkSession, path: String): String =
    Generations.Shingles.active(IndexTombstones.fsOf(spark, path), path)

  /** Compact a [[saveShingleIndex]] layout: rewrite every bucket partition
    * to one file and (optionally) re-apply the corpus-wide
    * `maxShingleFreq` stop-shingle guard — per-batch
    * [[appendToShingleIndex]]s accumulate small files and can only judge
    * shingle frequency within their own batch, so a periodic compaction
    * restores both the one-file-per-bucket read path and the global skew
    * bound.
    *
    * Publication = versioned directory + atomic pointer swap (NOT a
    * directory rename — see [[Generations]]): the new generation lands
    * in `shingles.gen<k+1>`, then a one-file pointer write flips readers
    * over. A concurrent probe resolves either the old or the new
    * generation, never a half-written one; the superseded directory is
    * deleted only after the swap (readers mid-scan in the deletion window
    * need a retention grace at multi-minute scan scale — pass
    * `keepPrevious = true` and clean up out-of-band).
    */
  def compactShingleIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, numBuckets: Int = 64,
                          maxShingleFreq: Option[Long] = None,
                          keepPrevious: Boolean = false): Unit = {
    val fs = IndexTombstones.fsOf(spark, path)
    val curName = Generations.Shingles.activeName(fs, path)
    val curDir = s"$path/${curName.get}"
    val nextName = Generations.Shingles.next(curName)
    // purge tombstoned docs first ([[deleteFromShingleIndex]]) so the
    // stop-shingle frequency guard below counts only LIVE rows; survivors
    // keep their seq stamp and the epoch file is untouched — same
    // crash-window reasoning as Similarity.compactAnnIndex
    val rows = IndexTombstones.applyDeletes(spark, path,
      spark.read.parquet(curDir), "ref_id")
    val kept = maxShingleFreq match {
      case None => rows
      case Some(f) =>
        val freq = rows.groupBy("shingle").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= f).drop("df_")
        rows.join(freq, "shingle")
    }
    kept.select(col("ref_id"), col("sz_ref"), col("shingle"), col("bucket"),
        col("seq"))
      .repartition(numBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/$nextName")
    Generations.Shingles.flip(fs, path, nextName, curName, keepPrevious)
    IndexTombstones.clearLog(spark, path)
  }

  /** [[jaccardAgainstReference]] against a persisted [[saveShingleIndex]]:
    * identical output contract (new_id, ref_id, inter, jaccard ≥ threshold),
    * but the reference side is the pre-exploded index instead of a
    * recompute.
    *
    * Two scale levers, both asserted in `DedupIndexSpec`:
    *   - PARTITION PRUNING (`pruneBuckets`): the batch's distinct buckets
    *     (≤ numBuckets ints, collected — bounded by construction) become a
    *     partition filter on the index scan, so untouched bucket
    *     directories are never read. Pruning pays one extra small job over
    *     the batch; it is only worth it when the batch's distinct shingles
    *     are FEW relative to `numBuckets·ln(numBuckets)` (coupon
    *     collector) — a handful of docs, a livetail probe. For routine
    *     batches of tens+ of docs every bucket is touched anyway: pass
    *     `pruneBuckets = false` and skip straight to the scan.
    *   - NO INDEX SHUFFLE: with `broadcastBatch=true` (the norm — a batch is
    *     tiny next to the corpus) the exploded batch broadcasts and the
    *     index side joins in place; only surviving (new, ref) candidate rows
    *     enter the pair aggregation shuffle. Set it false for an oversized
    *     batch; the join then shuffle-hashes on the shingle key.
    */
  def jaccardAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, newDocs: DataFrame,
                          idCol: String, textCol: String, n: Int = 3,
                          threshold: Double = 0.5,
                          numBuckets: Int = 64,
                          broadcastBatch: Boolean = true,
                          pruneBuckets: Boolean = true,
                          maxShingleFreq: Option[Long] = None): DataFrame = {
    val newSets = shingleHashFrame(newDocs, idCol, textCol, n, portableHash = false)
    val exNew = explodedShingles(newSets, maxShingleFreq)
      .select(col("shingle"), col("id").as("new_id"), col("sz").as("sz_new"))
      .withColumn("bucket", pmod(col("shingle"), lit(numBuckets.toLong)).cast("int"))
    // explicit schema: an index built from a reference corpus with zero
    // shingles (all docs shorter than n tokens) has no data files, and
    // schema inference would refuse the read — an empty index must mean
    // "no matches", not a crash (DedupPropertySpec found this)
    val idxSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ref_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sz_ref",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shingle",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType),
      // absent in pre-deletion indexes: reads as null, defaulted to 0
      // (build row) by the tombstone filter
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType)))
    val idxAll = spark.read.schema(idxSchema)
      .parquet(activeShingleDir(spark, path))
    val idxPruned =
      if (!pruneBuckets) idxAll
      else {
        // ≤ numBuckets small ints — bounded driver state, NOT a data collect
        val touched = exNew.select(col("bucket")).distinct()
          .collect().map(_.getInt(0))
        idxAll.filter(col("bucket").isin(touched.map(Integer.valueOf).toIndexedSeq: _*))
      }
    // tombstoned reference docs must not suppress anything: filter BEFORE
    // candidate generation (deleteFromShingleIndex)
    val idx = IndexTombstones.applyDeletes(spark, path, idxPruned, "ref_id")
    val joined =
      if (broadcastBatch) idx.join(broadcast(exNew), Seq("bucket", "shingle"))
      else idx.hint("shuffle_hash")
        .join(exNew.hint("shuffle_hash"), Seq("bucket", "shingle"))
    joined
      .groupBy(col("new_id"), col("ref_id"), col("sz_new"), col("sz_ref"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_new") + col("sz_ref") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("ref_id"), col("inter"), col("jaccard"))
  }

  /** [[jaccardPairs]] with PPJoin-style prefix filtering: only each doc's
    * first `|A| - ceil(t*|A|) + 1` shingles (in global hash order) become
    * join keys. Any pair with Jaccard ≥ t must (a) satisfy the length
    * filter `t*|A| ≤ |B| ≤ |A|/t` and (b) collide on at least one prefix
    * shingle of BOTH sides (prefix-filter theorem: J(A,B) ≥ t ⇒ overlap
    * ≥ ⌈t·max(|A|,|B|)⌉, so skipping fewer than that many smallest elements
    * from each side cannot avoid a common survivor) — the filter is
    * lossless; candidates then verify with the exact intersection.
    *
    * At t=0.5 the exploded join input halves per side (~4× fewer key
    * collisions) and the quadratic per-shingle group cost shrinks
    * accordingly — the difference between hours and minutes at corpus
    * scale. Verification joins the (small) candidate set back to the full
    * shingle arrays.
    *
    * Measured crossover (stage timing, sf0.1, local[32]): at small corpus
    * the plain [[jaccardPairs]] groupBy-count is faster (1.3 s vs 2.3 s
    * warm) because the per-shingle groups are tiny and the prefix path pays
    * two extra verification joins; prefer this variant when shingle
    * document frequency is high enough that the pair-join output explodes
    * (large corpora / hot shingles).
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxShingleFreq: Option[Long] = None): DataFrame = {
    val sets = shingleHashFrame(df, idCol, textCol, n, portableHash = false)
      .withColumn("sh", sort_array(col("sh")))
    val withPref = sets.withColumn("pref",
      slice(col("sh"), lit(1),
        (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")))
    val ex = {
      val e = withPref.select(col("id"), col("sz"),
        explode(col("pref")).as("shingle"))
      maxShingleFreq match {
        case None => e
        case Some(f) =>
          val freq = e.groupBy("shingle").agg(count(lit(1)).as("df_"))
            .filter(col("df_") <= f).drop("df_")
          e.join(freq, "shingle")
      }
    }
    val cand = ex.select(col("shingle"), col("id").as("id_a"), col("sz").as("sz_a"))
      .hint("shuffle_hash")
      .join(ex.select(col("shingle"), col("id").as("id_b"), col("sz").as("sz_b"))
        .hint("shuffle_hash"),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        // length filter: |B| in [t|A|, |A|/t] — prunes before dedup
        col("sz_b") >= ceil(col("sz_a") * threshold) &&
        col("sz_b") <= floor(col("sz_a") / threshold))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  /** Asymmetric containment pairs: `|A∩B| / |A| ≥ threshold` — document A
    * (near-)contained in document B. Catches subsets/quotations that
    * symmetric Jaccard misses when B is much larger than A (the classic
    * boilerplate-plus-quote page). Directed: both (a,b) and (b,a) can
    * qualify independently. Same single-shuffle shingle-key join shape as
    * [[jaccardPairs]].
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxShingleFreq: Option[Long] = None): DataFrame = {
    val sets = shingleHashFrame(df, idCol, textCol, n, portableHash = false)
    val ex = explodedShingles(sets, maxShingleFreq)
    val a = ex.select(col("shingle"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = ex.select(col("shingle"), col("id").as("id_b"), col("sz").as("sz_b"))
    // |A∩B| is symmetric, so aggregate each UNORDERED pair once (id_a <
    // id_b — half the join output and half the pair-shuffle volume of the
    // directed formulation), then emit both directions IN THE SAME STAGE
    // via explode — ONE consumer of the pair aggregate. The previous
    // union-of-two-projections shape planned as two separate shingle-join
    // + aggregation passes (the lower shingle exchanges reused, the
    // expensive pair stage did not — its join sides canonicalize
    // swapped); the eager localCheckpoint that papered over it cost more
    // than the saved pass at small SFs (r19 driver bench: 0.82×) and
    // truncated lineage. The explode is a narrow 2-rows-per-row generator
    // with no materialization and no second pass.
    val undirected = a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    val directed = undirected.select(explode(array(
        struct(col("id_a"), col("id_b"), col("sz_a"), col("inter")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b"),
          col("sz_b").as("sz_a"), col("inter")))).as("__d"))
      .select(col("__d.id_a").as("id_a"), col("__d.id_b").as("id_b"),
        col("__d.sz_a").as("sz_a"), col("__d.inter").as("inter"))
    directed
      .withColumn("containment", col("inter").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("containment"))
  }

  // ----------------------------------------------------------- MinHash/LSH

  /** k=16 MinHash signatures as one array column over shingle hashes.
    * Native single-pass kernel (one array traversal computes all 16
    * minima, codegen-reachable) — bit-identical to the
    * `array(array_min(transform(sh, x => (a*x+b) % Prime)) …)` form it
    * replaces, which evaluated 16 interpreted lambdas per row.
    */
  def minhashSignature(sh: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graft.ColumnBridge.expression(sh),
        minhashParams.map(_._1), minhashParams.map(_._2), Prime))

  /** Band keys: md5 of the comma-joined signature slice per band. */
  def bandKeys(sig: Column): Column =
    array((0 until numBands).map { bi =>
      md5(concat_ws(",",
        (0 until bandRows).map(r =>
          element_at(sig, bi * bandRows + r + 1)): _*).cast("binary"))
    }: _*)

  /** LSH candidate pairs (≥1 band collision), verified with the exact
    * Jaccard over the shingle-hash sets. The shuffle key is (band, key):
    * only docs agreeing on a full band meet — the candidate set is tiny
    * compared to all pairs.
    *
    * Shape (decide with small rows, move arrays once): the band join and
    * the pair dedup carry BARE IDS — the previous form shipped every
    * doc's full shingle array through the (band, key) join AND a
    * SortAggregate pair-dedup (arrays force sort-based aggregation), and
    * held the bucket frame in an UNRELEASED persist to avoid recomputing
    * signatures (one leaked cached copy per call in a long-lived
    * session). Now candidates reduce to distinct (id_a, id_b) via a
    * cheap hash aggregate, and the shingle arrays are attached to the
    * (tiny) verified candidate set by two id-keyed joins at the end —
    * the two fetch sides are the same subtree shuffled the same way, so
    * the runtime plan reuses one exchange, and nothing is persisted.
    */
  def lshPairs(df: DataFrame, idCol: String, textCol: String,
               n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sets = shingleHashFrame(df, idCol, textCol, n)
    val bk = sets
      .withColumn("sig", minhashSignature(col("sh")))
      .select(col("id"), posexplode(bandKeys(col("sig"))).as(Seq("band", "key")))
    val cand = bk.select(col("band"), col("key"), col("id").as("id_a"))
      .join(bk.select(col("band"), col("key"), col("id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sa = sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("sz").as("sz_a"))
    val sb = sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("sz").as("sz_b"))
    cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  // ------------------------------------------------- duplicate clustering

  /** Duplicate-cluster assignment: connected components over near-dup pairs,
    * labeling every vertex with the minimum id reachable from it →
    * `(id, cluster_id)`.
    *
    * Distributed min-label propagation: per round, every vertex sends its
    * current label to its neighbors and keeps the minimum — one shuffle join
    * plus one groupBy per round. Rounds needed = component diameter; dedup
    * graphs are near-cliques (diameter 1–2), so this converges in 2–3
    * rounds even at billions of edges. Labels only ever decrease, so
    * `sum(label)` is strictly decreasing until the fixpoint — convergence is
    * detected with a single cheap aggregate, no extra join. For adversarial
    * long-chain graphs the large-star/small-star variant (O(log n) rounds)
    * is the upgrade path; near-dup graphs never look like that.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIters: Int = 20,
               driverMaxEdges: Long = 2L * 1000 * 1000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Hybrid: the near-dup PAIR set is orders of magnitude smaller than the
    // corpus — on most real runs it fits on the driver even when the corpus
    // is 100 TB. Below `driverMaxEdges` (2M edges ≈ 32 MB heap) a single
    // union-find pass replaces 2-3 distributed label-propagation rounds
    // (each a join + groupBy job); above it, the distributed path takes
    // over with identical semantics. ONE action decides AND fetches: a
    // capped limit+collect — no separate count pass over the pipeline.
    // The pair pipeline is NOT persisted up front: the common (driver)
    // path consumes it exactly once in the collect, so the old persist
    // only added a storage write of every pair; the rare over-cap path
    // persists before the multi-round propagation, which reuses it.
    val cap = math.min(driverMaxEdges, (Int.MaxValue - 2).toLong).toInt
    val edges = pairs.select(col(idA).cast("long"), col(idB).cast("long"))
      .limit(cap + 1).collect().map(r => (r.getLong(0), r.getLong(1)))
    if (edges.length <= cap) clustersLocal(pairs.sparkSession, edges)
    else clustersDistributed(pairs.persist(StorageLevel.MEMORY_AND_DISK),
      idA, idB, maxIters)
  }

  /** Driver-side union-find over a bounded edge list. Union-by-min keeps
    * every root the minimum id of its tree, so the final root IS the
    * component's minimum label — same output as the distributed path.
    */
  private def clustersLocal(spark: org.apache.spark.sql.SparkSession,
                            edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var y = x0 // path compression
      while (parent.getOrElse(y, y) != root) { val n = parent(y); parent(y) = root; y = n }
      root
    }
    val verts = scala.collection.mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (a, b) =>
      verts += a; verts += b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    import spark.implicits._
    verts.toSeq.map(v => (v, find(v))).toDF("id", "cluster_id")
  }

  /** Distributed min-label propagation (see [[clusters]] Scaladoc). */
  private def clustersDistributed(pairs: DataFrame, idA: String, idB: String,
                                  maxIters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val p = pairs
    val edges = p.select(col(idA).as("src"), col(idB).as("dst"))
      .union(p.select(col(idB).as("src"), col(idA).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 0: label = min(self, min neighbor)
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("mn"), col("src")).as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var lastSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("label"))
      val next = labels.union(msgs)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(next)
      labels.unpersist()
      labels = next
      converged = s == lastSum
      lastSum = s
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** The dedup pipeline's end product: the retained document set — cluster
    * canonicals (minimum id per connected component) plus every document
    * not in any near-dup pair. `pairs` as in [[clusters]]; `all` is the
    * full corpus frame. One anti-join over the (tiny) non-canonical set.
    */
  def keepList(all: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cl = clusters(pairs)
    val dropIds = cl.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    all.join(dropIds, Seq(idCol), "left_anti")
  }

  // --------------------------------------- benchmark decontamination check

  /** Train↔benchmark contamination pairs: training docs sharing at least
    * `minShared` distinct word n-grams with a benchmark doc — the standard
    * pre-training decontamination test (n-gram overlap against held-out
    * eval sets).
    *
    * Shape: both sides explode to (ngram, id) and meet on the raw n-gram
    * string (hash-free — counts cannot be perturbed by hash collisions).
    * Benchmark suites are tiny next to the training corpus, so the bench
    * side is BROADCAST by default: the (huge) exploded train side is never
    * shuffled — each task matches locally and only surviving pairs move.
    * Set `broadcastBench = false` for an oversized benchmark side; the
    * join then shuffle-hashes on the n-gram (bound per-key groups upstream
    * the way [[jaccardPairs]] does with `maxShingleFreq`).
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 4, minShared: Long = 2L,
                    broadcastBench: Boolean = true): DataFrame = {
    def grams(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(array_distinct(
        TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n)))
        .as("ngram"))
    val tr = grams(train, "train_id")
    val be = grams(bench, "bench_id")
    val joined =
      if (broadcastBench) tr.join(broadcast(be), Seq("ngram"))
      else tr.hint("shuffle_hash").join(be.hint("shuffle_hash"), Seq("ngram"))
    joined
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Per-document contamination REPORT: for every train doc, the fraction
    * of its distinct word n-grams that appear anywhere in the benchmark
    * set — the overlap statistic eval-contamination audits publish (e.g.
    * "≥ 13-gram overlap fraction" tables), where [[contamination]] is the
    * boolean filter form.
    *
    * One row per train doc with ≥ 1 n-gram, INCLUDING zero-overlap docs
    * (the report is a distribution, not a hit list):
    * (train_id, total_ngrams, contaminated, overlap_frac).
    *
    * Shape: bench n-grams dedup to one distinct set (tiny vs the corpus)
    * and broadcast; the exploded train side marks hits in place with a
    * broadcast LEFT join — no shuffle of train n-grams, and the per-doc
    * aggregation moves one partial row per (task, doc). Set
    * `broadcastBench = false` for an oversized bench side (shuffle-hash on
    * the n-gram, same skew note as [[contamination]]).
    */
  def contaminationOverlap(train: DataFrame, bench: DataFrame, idCol: String,
                           textCol: String, n: Int = 4,
                           broadcastBench: Boolean = true): DataFrame = {
    def grams(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(array_distinct(
        TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n)))
        .as("ngram"))
    val tr = grams(train, "train_id")
    val be = grams(bench, "bench_id").select(col("ngram")).distinct()
      .withColumn("hit", lit(1L))
    val joined =
      if (broadcastBench) tr.join(broadcast(be), Seq("ngram"), "left")
      else tr.hint("shuffle_hash")
        .join(be.hint("shuffle_hash"), Seq("ngram"), "left")
    joined
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("total_ngrams"),
        coalesce(sum(col("hit")), lit(0L)).as("contaminated"))
      .withColumn("overlap_frac",
        col("contaminated").cast("double") / col("total_ngrams"))
  }

  /** [[contamination]] with a Bloom-filter prefilter on the training side —
    * the shape for benchmark suites too large to broadcast as exploded
    * n-gram strings.
    *
    * Scale rationale (100 TB): `contamination(broadcastBench = true)` ships
    * every bench n-gram STRING to every executor; with many eval suites ×
    * long n-grams that broadcast is GBs. Here the bench side is aggregated
    * into a ~`1.44·log2(1/fpp)` bits-per-item Bloom filter (a few MB for
    * 10^7 n-grams at 1% fpp) using Spark's codegen'd `BloomFilterAggregate`,
    * and the (huge) exploded train side is prefiltered locally by the
    * codegen'd `might_contain` before the exact verify join — so the shuffle
    * carries only true matches plus ~fpp false positives instead of the full
    * train explosion. No UDF anywhere on the hot path.
    *
    * The verify join makes the result IDENTICAL to [[contamination]]: a
    * Bloom filter has no false negatives (nothing true is dropped) and the
    * join discards the false positives the prefilter admits.
    *
    * `expectedItems` sizes the filter; pass the (estimated) distinct bench
    * n-gram count. Spark's `BloomFilterAggregate` clamps the computed bit
    * count to `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`, so a
    * very large `expectedItems` silently RAISES the effective fpp — the
    * prefilter admits more false positives (more shuffle into the verify
    * join), but never wrong results: the exact verify join discards every
    * false positive regardless of filter saturation.
    */
  def contaminationBloom(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 4, minShared: Long = 2L,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    def grams(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(array_distinct(
        TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)), n)))
        .as("ngram"))
    val tr = grams(train, "train_id")
    val be = grams(bench, "bench_id")

    // Bits per the standard optimal-m formula, computed once on the driver.
    val numBits = math.max(64L,
      math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2)))
        .toLong)
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
          ColumnBridge.expression(xxhash64(col("ngram"))),
          Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())
    val bloomBytes = be.select(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)

    val mightContain = ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, BinaryType),
        ColumnBridge.expression(xxhash64(col("ngram")))))
    val pre = tr.filter(mightContain)

    // Exact verify: shuffle-hash on the n-gram — the train side is already
    // reduced to (matches + fpp·misses), so neither side is broadcast.
    pre.hint("shuffle_hash").join(be.hint("shuffle_hash"), Seq("ngram"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  // ----------------------------------------------- duplicated spans

  /** Cross-document duplicated spans: every sliding `k`-token window that
    * appears in more than one document, with its document count, total
    * occurrence count and the first (lowest-id) document containing it.
    * This is the detection half of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better") — n-gram
    * Jaccard and MinHash see *documents*; this sees *passages* copied
    * between otherwise-different documents.
    *
    * Overlap between adjacent windows of a long duplicated passage is
    * intentional (each window independently witnesses the duplication;
    * consumers coalesce runs by position if they need the maximal span).
    *
    * Shape: TWO passes so the big shuffle never carries text — and neither
    * pass ever BUILDS the span string for a non-surviving window. Windows
    * are (doc, position, hash) triples where the 64-bit hash is computed
    * directly over the k-token array slice (no concatenated string
    * allocation). Pass 1 aggregates on the hash (8 bytes per occurrence on
    * the wire) and keeps hashes seen in >1 document — an over-approximation
    * (a hash collision can only ADD a candidate, never drop one). Pass 2
    * semi-joins the windows to the candidate hashes, joins the (small)
    * survivor set back to the token arrays to materialize span text for
    * survivors only, and re-aggregates by the exact span string, which
    * eliminates any collision and yields exact counts. Same result as a
    * direct string groupBy; the wide shuffles carry 8-byte hashes and
    * survivor strings, never the corpus text.
    *
    * Neither join is hint-forced to broadcast: the duplicated-hash set is
    * data-dependent and unbounded (heavily duplicated corpora are exactly
    * this workload), and a forced broadcast would OOM the driver past
    * Spark's 8 GB limit. Both small sides materialize at shuffle boundaries,
    * so AQE sees their EXACT runtime sizes and converts each join to
    * broadcast-hash only when it fits under autoBroadcastJoinThreshold.
    */
  def duplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 8): DataFrame = {
    val toks = tokenFrame(docs, idCol, textCol, k)
    occurrenceSpans(toks, dupWindowOccurrences(windowHashes(toks, k)), k)
      .groupBy(col("span"))
      .agg(countDistinct(col("__did")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("__did")).as("first_doc"))
      .filter(col("n_docs") > 1)
  }

  /** (__did, __tk) token arrays for docs long enough to hold one window. */
  private def tokenFrame(docs: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame =
    docs.filter(org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.TokenCount(org.apache.spark.sql.graft.ColumnBridge
          .expression(col(textCol)))) >= k)
      .select(col(idCol).as("__did"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))

  /** (__did, __p, __h): one row per sliding k-token window; `__p` is the
    * 1-based start token index, `__h` a 64-bit hash of the window's tokens
    * (native single pass — [[graft.functions.WindowHashes64]]; no span
    * string is ever concatenated here, and the hash value is internal:
    * every downstream answer re-verifies on exact span strings).
    */
  private def windowHashes(toks: DataFrame, k: Int): DataFrame =
    toks.select(col("__did"),
        posexplode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.WindowHashes64(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("__tk")),
            k))).as(Seq("__p0", "__h")))
      .select(col("__did"), (col("__p0") + 1).as("__p"), col("__h"))

  /** Occurrences (__did, __p) of windows whose hash is seen in more than
    * one distinct document — from ONE windowHashes pass: `wins` is
    * shuffled on `__h` exactly once instead of the corpus being
    * re-scanned, re-tokenized and re-hashed for each consumer (the r19
    * plan ran the whole scan→tokenize→windowhash pipeline twice — once
    * for the duplicate-hash aggregate, once for the probe side of the
    * semi-join back). ">1 distinct doc" ⟺ min(doc) != max(doc), never a
    * countDistinct (which would expand to distinct (hash, doc) pairs).
    * Scale note: this shuffles the (did, p, h) window rows (~20 B/token)
    * where the old shape shuffled only aggregated hashes but paid a second
    * full scan+tokenize+hash pass; the shuffle is the cheaper leg on both
    * the bench and a network where a token's 20 B costs less to move than
    * its text costs to re-read, decompress and re-hash.
    *
    * The group min/max ride a WINDOW over `__h`, not an aggregate +
    * semi-join back: the window's required distribution IS the one shuffle,
    * with a single consumer by construction (an aggregate + semi-join needs
    * the planner to recognize two copies of the exchange subtree, and a
    * pushed-down join-key null filter on the probe side was enough to break
    * that canonicalization and silently re-run the corpus pass — the same
    * reasoning as editDistancePairs' block counting).
    */
  private def dupWindowOccurrences(wins: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("__h"))
    wins
      .withColumn("__d0", min(col("__did")).over(wd))
      .withColumn("__d1", max(col("__did")).over(wd))
      .filter(col("__d0") =!= col("__d1"))
      .select(col("__did"), col("__p"))
  }

  /** (__did, __p, span) for candidate occurrences: ONE join back to the
    * token arrays builds span text for the survivors only. The probe side
    * streams the token arrays map-side when AQE broadcasts the (small)
    * survivor set.
    */
  private def occurrenceSpans(toks: DataFrame, occ: DataFrame,
                              k: Int): DataFrame =
    occ.join(toks, Seq("__did"))
      .select(col("__did"), col("__p"),
        concat_ws(" ", slice(col("__tk"), col("__p"), lit(k))).as("span"))

  /** Maximal duplicated passages (the "dedup the repeated substring, not
    * the document" output of Lee et al. 2022): duplicated k-token windows
    * of [[duplicateSpans]], coalesced per document into maximal token
    * ranges — overlapping or adjacent duplicated windows merge into one
    * passage row (doc_id, start_tok, end_tok, n_windows, passage).
    *
    * Exactness: candidates come from the hash pass, then survivors are
    * verified by exact span string (collision-proof) BEFORE island-merging,
    * so a hash collision never extends a passage. The island step is one
    * window function over the (small) verified-duplicate occurrence set:
    * a window starts a new island when its start exceeds the previous
    * window's start by more than k (i.e. they neither overlap nor touch).
    */
  /** Maximal-island ranges `(__did, start_tok, end_tok, n_windows)` (no
    * passage text) plus the token frame for callers that materialize it.
    * The token frame is consumed twice (window hashing, survivor-span
    * text) and deliberately left UNPERSISTED: the branches re-tokenize
    * from the (runtime-reused) scan exchange, which measures FASTER than
    * materializing the token frame — an eager localCheckpoint of
    * (id, tokens) was tried here and cost more than the recomputes it
    * saved (tokenize is a cheap native kernel; the barrier added a full
    * write+read of corpus-sized arrays).
    *
    * The exact span verify runs in ONE pass the same way
    * [[dupWindowOccurrences]] does: group min/max over a window keyed by
    * the span string — the r19 shape (aggregate + semi-join back)
    * computed the span subtree (with its corpus-scan token join) twice.
    */
  private def duplicateSpanIslands(docs: DataFrame, idCol: String,
                                   textCol: String,
                                   k: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokenFrame(docs, idCol, textCol, k)
    val spans = occurrenceSpans(toks,
      dupWindowOccurrences(windowHashes(toks, k)), k)
    // exact verify: keep occurrences whose span string is in >1 distinct
    // doc — group min/max over a window keyed by the span string, one
    // shuffle with a single consumer (see dupWindowOccurrences for why
    // this beats aggregate + semi-join back)
    val ws = Window.partitionBy(col("span"))
    val occ = spans
      .withColumn("__d0", min(col("__did")).over(ws))
      .withColumn("__d1", max(col("__did")).over(ws))
      .filter(col("__d0") =!= col("__d1"))
      .select(col("__did"), col("__p"))
    val byDoc = Window.partitionBy(col("__did")).orderBy(col("__p"))
    val islands = occ
      .withColumn("__brk",
        when(col("__p") - lag(col("__p"), 1).over(byDoc) > k, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("__did"), col("__isl"))
      .agg(min(col("__p")).as("start_tok"),
        (max(col("__p")) + (k - 1)).as("end_tok"),
        count(lit(1)).as("n_windows"))
    (islands, toks)
  }

  def maximalDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text", k: Int = 8): DataFrame = {
    val (islands, toks) = duplicateSpanIslands(docs, idCol, textCol, k)
    islands.join(toks, Seq("__did"))
      .select(col("__did").as(idCol),
        col("start_tok").cast("long").as("start_tok"),
        col("end_tok").cast("long").as("end_tok"),
        col("n_windows"),
        concat_ws(" ", slice(col("__tk"), col("start_tok"),
          col("end_tok") - col("start_tok") + 1)).as("passage"))
  }

  /** Cleaned-corpus output of exact-substring dedup: maximal duplicated
    * passages ([[maximalDuplicateSpans]]) spliced OUT of documents,
    * leaving one row per document with the cleaned text (rebuilt from
    * surviving tokens, single-spaced), the number of passages removed, and
    * the token count removed. Documents without duplicated passages pass
    * through with their tokens re-joined (so the column is uniformly
    * normalized).
    *
    * Two modes:
    *   - `keepCanonical = false` (default): EVERY occurrence of a
    *     duplicated passage is removed — the aggressive variant (total
    *     boilerplate strip).
    *   - `keepCanonical = true`: the Lee et al. 2022 deduplication recipe
    *     (arXiv:2107.06499 §3, "remove all but one") — for each distinct
    *     passage text, the occurrence at the lowest (doc id, start) keeps
    *     its copy; only the other occurrences are spliced out, so the
    *     corpus retains each string's content exactly once.
    *
    * Shape: the island frame is tiny (duplicated docs only), so the join
    * back to the corpus is broadcast-eligible; splicing runs only in the
    * branch where ranges exist — clean documents never pay the per-token
    * range test. The canonical pick is a window over the (small) passage
    * frame, keyed by passage text.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", k: Int = 8,
                           keepCanonical: Boolean = false): DataFrame = {
    val spansToCut =
      if (!keepCanonical) {
        // every occurrence is cut — the passage TEXT is never consumed, so
        // skip maximalDuplicateSpans' token-frame join entirely (it scanned
        // and tokenized the whole corpus just to build a column this mode
        // prunes; the join itself was a semantic no-op — island docs are by
        // construction a subset of the token frame's docs)
        val (islands, _) = duplicateSpanIslands(docs, idCol, textCol, k)
        islands.select(col("__did").as(idCol),
          col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"))
      } else {
        val w = Window.partitionBy(col("passage"))
          .orderBy(col(idCol).asc, col("start_tok").asc)
        maximalDuplicateSpans(docs, idCol, textCol, k)
          .withColumn("__occ", row_number().over(w))
          .filter(col("__occ") > 1) // occurrence 1 is the canonical copy
          .drop("__occ")
      }
    val ranges = spansToCut
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("__rs"),
        count(lit(1)).as("n_passages"),
        sum(col("end_tok") - col("start_tok") + 1).as("toks_removed"))
    // splice + rejoin via the native one-pass kernel (SpliceConcat) —
    // the HOF form ran an interpreted `exists` lambda per token per
    // range and knocked the projection out of codegen. Children are
    // coalesced non-null (text → "", ranges → empty array), which is
    // value-identical: tokens("") = [] → "" and an empty range list
    // keeps every token, exactly the old when(__rs isNull) branch.
    // No scan fan-out on the rejoin: with tokens + SpliceConcat native,
    // the round-robin exchange measured slower than the single-split
    // kernel pass it parallelized (same finding as lineTable).
    val emptyRanges = array().cast(
      "array<struct<start_tok: bigint, end_tok: bigint>>")
    docs
      .select(col(idCol),
        TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("__tk"))
      .join(ranges, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("toks_removed"), lit(0L)).as("toks_removed"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.SpliceConcat(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("__tk")),
            org.apache.spark.sql.graft.ColumnBridge.expression(
              coalesce(col("__rs"), emptyRanges)))).as("clean_text"))
  }

  // ----------------------------------------------- edit-distance near-dup

  /** Blocked edit-distance near-dup pairs: documents agreeing on
    * (`blockCols`, first `blockLen` chars of normalized text) are compared
    * with Levenshtein distance over their first `compareLen` normalized
    * chars; pairs at distance ≤ `maxDist` survive.
    *
    * Blocking is what makes this scale: the quadratic comparison runs only
    * inside each (usually tiny) block, and the shuffle key is the block —
    * the classic record-linkage layout. `compareLen` bounds the O(m·n)
    * DP cost per comparison; the default-on adaptive block cap (below)
    * bounds the O(block²) pair count a degenerate mega-block of
    * boilerplate prefixes would otherwise contribute.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], blockLen: Int = 8,
                        compareLen: Int = 80, maxDist: Int = 20,
                        maxBlockSize: Option[Long] = None): DataFrame = {
    // explicit cheap null guard + never-firing coalesce: a null text can
    // never pair (its null block key matches nothing in the inner
    // self-join), and making `nt`/`blk` provably non-nullable stops the
    // optimizer from synthesizing an isnotnull(blk) filter whose pushed
    // form re-ran the normtext prefix kernel once more per row
    val base0 = df.filter(col(textCol).isNotNull)
      .select(
        (col(idCol).as("id") +: blockCols.map(col)) :+
          coalesce(normTextPrefix(col(textCol), compareLen), lit(""))
            .as("nt"): _*)
      .withColumn("blk", substring(col("nt"), 1, blockLen))
    val keys = blockCols :+ "blk"
    // skew guard (measured: a 10x-duplicated corpus grows block pair work
    // ~repl² — a degenerate mega-block of boilerplate prefixes would do
    // the same at any duplication level): drop blocks larger than the cap
    // before the self-join, mirroring the shingle joins' maxShingleFreq.
    // The DEFAULT cap is adaptive — max(1000, 64 × the median block
    // size), the same SF-proportional rule as Similarity.hotBucketGuard:
    // healthy blocking keys never bind (median blocks are tiny, the
    // floor exempts small corpora), a mega-block concentrating ≥ 64× the
    // median does, BEFORE its quadratic pair work. Explicit
    // `maxBlockSize` overrides absolutely (recall caveat documented).
    // The 1-row median frame broadcasts (a bounded constant-frame BNLJ,
    // the q_corpus_report pattern). Guard-cost note: the r13 bench
    // deltas attributed to this cap reverted in the r14 no-change bench
    // (zero commits) — box noise, not cap cost.
    // Block sizes via a WINDOW over the block keys, not a separate
    // aggregate + left-semi join back: the window's hash partitioning on
    // `keys` is exactly the self-join's required distribution, so block
    // counting, cap filtering and the pair join all share ONE exchange
    // (the old shape shuffled base0 three times — bstats, semi-probe,
    // join sides). Cap semantics unchanged: one row per block for the
    // median (dropDuplicates == the old per-block aggregate), same
    // max(1000, 64 × median) rule, same explicit-cap override.
    val counted = base0.withColumn("__bn",
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val base = (maxBlockSize match {
      case Some(cap) => counted.filter(col("__bn") <= cap)
      case None =>
        val med = counted.select((col("__bn") +: keys.map(col)): _*)
          .dropDuplicates(keys)
          .agg(median(col("__bn")).as("__med"))
        counted.crossJoin(broadcast(med))
          .filter(col("__bn").cast("double") <=
            greatest(lit(1000d), col("__med") * lit(64d)))
          .drop("__med")
    }).drop("__bn")
    val a = base.select((col("id").as("id_a") +: keys.map(col)) :+
      col("nt").as("nt_a"): _*)
    val b = base.select((col("id").as("id_b") +: keys.map(col)) :+
      col("nt").as("nt_b"): _*)
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), keys)
      .filter(col("id_a") < col("id_b"))
      // |len(a) − len(b)| is a lower bound on Levenshtein distance: a
      // codegen'd integer filter that skips the O(m·n) DP for most pairs
      // without changing which pairs survive
      .filter(abs(length(col("nt_a")) - length(col("nt_b"))) <= maxDist)
      // thresholded levenshtein (Spark 3.5+): banded O(n·maxDist) DP with
      // early exit, returns the EXACT distance when ≤ maxDist and −1
      // otherwise — surviving pairs carry identical `dist` values to the
      // unbounded form, non-survivors are dropped either way
      .withColumn("dist", levenshtein(col("nt_a"), col("nt_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  // ------------------------------------------------- line-level boilerplate

  /** CCNet/RefinedWeb-style line-level boilerplate removal: split every
    * document into lines, count how many DISTINCT documents each normalized
    * line occurs in corpus-wide, strip lines whose document frequency
    * exceeds `maxDocFreq` (navigation chrome, cookie banners, license
    * footers — anything repeated across many pages), and reassemble the
    * survivors in original order. Documents whose every line was
    * boilerplate drop out entirely.
    *
    * Output: (id, clean_text, kept_lines, dropped_lines), one row per
    * surviving document.
    *
    * Scale (100 TB): every shuffle is keyed, no all-pairs work anywhere —
    *   1. doc frequency: lines project to (line-hash, doc-id), distinct,
    *      then a hash-groupBy count. Both stages partial-aggregate
    *      map-side; the hot keys ARE the boilerplate lines, and a
    *      count-after-distinct collapses them before anything wide moves.
    *   2. the filter join meets the full line stream with the per-hash
    *      count table on the line hash — one row per hash on the build
    *      side, so per-key fan-out is bounded; AQE skew-split covers
    *      pathological hashes.
    *   3. reassembly: hash-groupBy on doc id, order restored by an
    *      in-group `array_sort` on (line_no, line) structs — no global
    *      sort, no window.
    * Line hashing uses the portable [[hash60]] over [[normText]] so an
    * external SQL engine reproduces the decision bit-for-bit.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Long, minLineChars: Int = 1): DataFrame = {
    val lines = lineTable(df, idCol, textCol, minLineChars)
    stripLines(lines, lineDocFreq(lines), idCol, maxDocFreq)
  }

  /** [[lineDedup]] with the document-frequency cutoff expressed as a
    * SHARE of the corpus — threshold = n_docs · shareNumer div shareDenom
    * (exact integer arithmetic, floor semantics, the house
    * SF-proportional threshold rule) — computed INSIDE the job from a
    * 1-row count frame instead of a separate driver-side `df.count()`
    * action, saving one full scan per query. The broadcast 1-row frame
    * is the corpus-constant BNLJ pattern (q_corpus_report). Additional
    * scale win: only the VIOLATING hashes (df > threshold) enter the
    * strip join's build side — the boilerplate table, not every distinct
    * line hash in the corpus.
    */
  def lineDedupByShare(df: DataFrame, idCol: String, textCol: String,
                       shareNumer: Long = 1L, shareDenom: Long = 100L,
                       minLineChars: Int = 1): DataFrame = {
    val lines = lineTable(df, idCol, textCol, minLineChars)
    val n = df.agg(count(lit(1)).as("__n"))
    val hot = lineDocFreq(lines).crossJoin(broadcast(n))
      .filter(col("__df") >
        expr(s"(__n * ${shareNumer}L) div ${shareDenom}L"))
      .select(col("__h"), col("__df"))
    // freq holds violators only: any joined row strips (threshold 0);
    // unseen hashes stay kept per the stripLines contract
    stripLines(lines, hot, idCol, maxDocFreq = 0L)
  }

  /** CCNet-exact line (paragraph) dedup: every duplicated line keeps its
    * FIRST occurrence — the copy at the lowest (doc id, position) — and
    * loses the rest; unlike [[lineDedup]]'s boilerplate strip, no content
    * disappears from the corpus entirely. Output shape matches
    * [[lineDedup]].
    *
    * Scale: the first-occurrence table is one `min_by` hash aggregate per
    * line hash (map-side partials collapse the hot boilerplate keys —
    * never a per-hash window/sort), joined back on the hash like the
    * frequency table.
    */
  def lineDedupKeepFirst(df: DataFrame, idCol: String, textCol: String,
                         minLineChars: Int = 1): DataFrame = {
    val lines = lineTable(df, idCol, textCol, minLineChars)
    val firstOcc = lines.groupBy(col("__h"))
      .agg(min(struct(col("__did"), col("__p"))).as("__first"))
    lines.join(firstOcc, Seq("__h"))
      .withColumn("__keep",
        struct(col("__did"), col("__p")) === col("__first"))
      .groupBy(col("__did"))
      .agg(array_sort(collect_list(when(col("__keep"),
             struct(col("__p"), col("__l"))))).as("__ordered"),
           sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_lines"),
           count(lit(1)).as("__total"))
      .filter(col("kept_lines") > 0)
      .select(col("__did").as(idCol),
        // native one-pass field concat — the transform lambda ran
        // interpreted per line and blocked codegen for the projection
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.ConcatStructField(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              col("__ordered")),
            ordinal = 1, numFields = 2, sep = "\n")).as("clean_text"),
        col("kept_lines"),
        (col("__total") - col("kept_lines")).as("dropped_lines"))
  }

  /** (__did, __p, __l, __h): one row per qualifying line of every doc —
    * position, raw text, and the portable hash of the normalized form.
    * No scan fan-out: with the line hash (Hash60) and reassembly
    * (ConcatStructField) kernels native, the per-row work no longer
    * outweighs a round-robin exchange — fanOutSmall here measured
    * slightly SLOWER at 32 cores and was the 0.51 c8/c32 inverse scaler
    * (the forced defaultParallelism width put 32-way shuffles behind a
    * few-MB input).
    */
  private[graft] def lineTable(df: DataFrame, idCol: String, textCol: String,
                               minLineChars: Int): DataFrame =
    df
      .select(col(idCol).as("__did"),
        posexplode(split(col(textCol), "\n")).as(Seq("__p", "__l")))
      .filter(length(trim(col("__l"))) >= minLineChars)
      .withColumn("__h", hash60(normText(col("__l"))))

  /** (__h, __df): distinct-document frequency per normalized-line hash. */
  private[graft] def lineDocFreq(lines: DataFrame): DataFrame =
    lines.select(col("__h"), col("__did")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))

  /** Filter a [[lineTable]] against a (__h, __df) frequency table and
    * reassemble surviving docs (shared by the batch and streaming paths).
    * A line hash absent from `freq` counts as unseen (kept).
    */
  private[graft] def stripLines(lines: DataFrame, freq: DataFrame,
                                idCol: String, maxDocFreq: Long): DataFrame =
    // one reassembly aggregate computes kept AND total per doc in a single
    // pass: collect_list skips nulls, so gating the struct behind the keep
    // flag collects survivors only while count(*) still sees every line
    lines.join(freq, Seq("__h"), "left")
      .withColumn("__keep", coalesce(col("__df"), lit(0L)) <= maxDocFreq)
      .groupBy(col("__did"))
      .agg(array_sort(collect_list(when(col("__keep"),
             struct(col("__p"), col("__l"))))).as("__ordered"),
           sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_lines"),
           count(lit(1)).as("__total"))
      .filter(col("kept_lines") > 0)
      .select(col("__did").as(idCol),
        // native one-pass field concat — the transform lambda ran
        // interpreted per line and blocked codegen for the projection
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.ConcatStructField(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              col("__ordered")),
            ordinal = 1, numFields = 2, sep = "\n")).as("clean_text"),
        col("kept_lines"),
        (col("__total") - col("kept_lines")).as("dropped_lines"))

  // --------------------------------------------------------------- SimHash

  /** 32-bit SimHash over whitespace tokens (with multiplicity): bit j of the
    * result is 1 iff the sum over tokens of ±1 (sign = bit j of the token's
    * 60-bit [[hash60]]) is positive. Pure per-row arithmetic — no shuffle.
    *
    * Routed through the native one-pass kernel
    * ([[graft.functions.SimHashBits]]): the Column-HOF formulation (32
    * `aggregate` calls over `transform(tokens, hash60)`) re-tokenized and
    * re-md5'd every token once PER BIT — a 32× blowup that full-row bench
    * materialization exposed as the slowest query in the suite (17 s at
    * sf0.1; the kernel brings it back to scan cost).
    */
  def simhash32(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.SimHashBits(ColumnBridge.expression(text)))
  }
}
