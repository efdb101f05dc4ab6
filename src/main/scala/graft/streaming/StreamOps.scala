package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.SmallFiles
import graft.ml.IndexTombstones.fsOf

/** Streaming counterparts of the batch dedup/join operators — the pieces a
  * continuously-ingesting pipeline needs to apply the same semantics
  * in-flight instead of in nightly batches.
  *
  * State-size discipline (the 100 TB question for streams is state, not
  * data): every operator here bounds its state with an event-time
  * watermark — dedup state and join buffers are dropped as the watermark
  * passes, so state is O(traffic within the lateness window), never
  * O(history).
  */
object StreamOps {

  /** Streaming exact dedup on `keyCols`: keeps the first occurrence, drops
    * later duplicates arriving within the watermark delay of each other.
    * State per key expires once the watermark passes (Spark's
    * `dropDuplicatesWithinWatermark`), which is exactly the guarantee an
    * at-least-once ingest (retries, replayed batches) needs — duplicates
    * arrive close together; a re-ingest a week later is a restatement, not
    * a duplicate.
    */
  def dedupExact(df: DataFrame, tsCol: String, delay: String,
                 keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Content-fingerprint streaming dedup: same as [[dedupExact]] but keyed
    * on a hash of normalized text — the streaming twin of
    * `Dedup.exactGroups`.
    */
  def dedupByContent(df: DataFrame, tsCol: String, delay: String,
                     textCol: String): DataFrame =
    dedupExact(
      df.withColumn("fp_md5",
        md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")
          .cast("binary"))),
      tsCol, delay, Seq("fp_md5"))

  /** Stream-stream inner join: rows match on `keyCol` when the right event
    * lands in `[left ts, left ts + within]` — the impression→click /
    * request→response correlation shape. Right-side columns come back
    * prefixed `r_`. Both sides carry watermarks and the join condition
    * bounds the right ts relative to the left, so each side's join buffer
    * is dropped as the watermark passes — state O(lateness window), not
    * O(stream history).
    */
  def joinWithin(left: DataFrame, right: DataFrame, keyCol: String,
                 leftTs: String, rightTs: String, delay: String,
                 within: String): DataFrame = {
    val r = right.columns.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, s"r_$c"))
    left.withWatermark(leftTs, delay)
      .join(r.withWatermark(s"r_$rightTs", delay),
        col(keyCol) === col(s"r_$keyCol") &&
          col(s"r_$rightTs") >= col(leftTs) &&
          col(s"r_$rightTs") <= col(leftTs) + expr(s"INTERVAL $within"))
  }

  /** Streaming NEAR-dup dedup against a persisted shingle index
    * ([[graft.ml.Dedup.saveShingleIndex]]) — the continuous-ingestion
    * twin of [[graft.ml.Dedup.jaccardAgainstIndex]]. Each micro-batch:
    *
    *   1. probe the index — docs with a ≥ threshold Jaccard match against
    *      anything already kept are dropped;
    *   2. resolve INTRA-batch near-dups (lowest id is canonical — the
    *      index can't see docs that arrived together);
    *   3. append the survivors' shingles to the index
    *      ([[graft.ml.Dedup.appendToShingleIndex]]), so the NEXT batch
    *      dedups against them too;
    *   4. hand the surviving rows to `sink` (write to the clean table).
    *
    * State discipline: there is NO Spark streaming state at all — the
    * index on disk IS the state, bounded by the kept corpus size rather
    * than the stream history, and shared by every other consumer of the
    * index. A missing/empty index (first batch ever) means nothing to
    * probe: the whole batch is novel modulo intra-batch dups.
    *
    * REPLAY SAFETY: `foreachBatch` is at-least-once — after a crash
    * between the epoch commit and the offset-log write, the restarted
    * query re-delivers the last batch. Re-running it would append the
    * survivors' shingles (and the sink rows) a second time. Each
    * successful batch therefore records its id in `_last_batch` inside
    * the index dir, and a batch with id ≤ the recorded watermark is
    * skipped outright (its effects are already fully applied — marker
    * write is the LAST step). Batch ids are strictly increasing per
    * checkpoint, so the single-value watermark is enough.
    *
    * Returns the `DataStreamWriter` — caller picks trigger/checkpoint and
    * starts it.
    */
  def dedupNearStream(docs: DataFrame, idCol: String, textCol: String,
                      indexPath: String, sink: DataFrame => Unit,
                      n: Int = 3, threshold: Double = 0.5,
                      numBuckets: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processDedupBatch(batch, batchId, idCol, textCol, indexPath, sink,
        n, threshold, numBuckets)
    }

  /** One micro-batch of [[dedupNearStream]], exposed for direct testing of
    * the replay-skip path. Idempotent per `batchId`: a second invocation
    * with an already-committed id is a no-op.
    */
  private[streaming] def processDedupBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexPath: String,
      sink: DataFrame => Unit, n: Int, threshold: Double,
      numBuckets: Int): Unit = {
      import graft.ml.Dedup
      val spark = batch.sparkSession
      // replayed batch: already applied
      if (batchId <= committedBatch(spark, indexPath)) return
      val b = batch.persist() // probed, self-joined and appended — one scan
      try {
        val activeDir = new org.apache.hadoop.fs.Path(
          Dedup.activeShingleDir(spark, indexPath))
        val indexExists = activeDir
          .getFileSystem(spark.sessionState.newHadoopConf())
          .exists(activeDir)
        val afterIndex =
          if (!indexExists) b
          else {
            val hit = Dedup.jaccardAgainstIndex(spark, indexPath, b, idCol,
                textCol, n, threshold, numBuckets)
              .select(col("new_id").as(idCol)).distinct()
            b.join(hit, Seq(idCol), "left_anti")
          }
        // intra-batch: id_b of each qualifying pair (id_a < id_b) drops,
        // so the lowest id of every duplicate group survives
        val intraDup = Dedup.jaccardPairs(afterIndex, idCol, textCol, n,
            threshold)
          .select(col("id_b").as(idCol)).distinct()
        // localCheckpoint (EAGER) — not persist: step 3 MUTATES the index
        // this plan reads, so any post-append re-evaluation (the sink's
        // action, a cache-evicted partition) would see the batch's own
        // freshly-appended shingles and drop every survivor as a
        // self-match. Truncating the lineage pins the survivor set.
        val survivors = afterIndex.join(intraDup, Seq(idCol), "left_anti")
          .localCheckpoint(true)
        if (!survivors.isEmpty) {
          if (indexExists)
            Dedup.appendToShingleIndex(survivors, idCol, textCol, indexPath,
              n, numBuckets)
          else
            Dedup.saveShingleIndex(survivors, idCol, textCol, indexPath,
              n, numBuckets)
        }
        sink(survivors)
        // free the checkpointed blocks now rather than at GC — the sink
        // contract is "materialize before returning" (write/collect), so
        // nothing may hold this frame across batches
        survivors.unpersist()
        // marker LAST: a crash anywhere above leaves it unwritten and the
        // replay re-runs the whole batch (at-least-once within the batch,
        // exactly-once across completed batches)
        commitBatch(spark, indexPath, batchId)
      } finally { b.unpersist(); () }
  }

  /** Streaming line-level boilerplate removal — the continuous twin of
    * [[graft.ml.Dedup.lineDedup]]. Each micro-batch folds its lines'
    * document frequencies into a persisted corpus-wide frequency table,
    * then strips the batch's docs against the UPDATED table (so a batch
    * sees its own contribution — identical to running the batch operator
    * over the stream prefix) and hands survivors to `sink`.
    *
    * One-pass semantics: frequencies only grow, so a line that crosses
    * `maxDocFreq` in batch N is stripped from batch N onward — docs
    * already emitted keep their copy (the unavoidable one-pass
    * approximation; periodic batch re-runs over the clean table reclaim
    * exactness).
    *
    * State = the (line-hash, doc-frequency) table: sized by the DISTINCT
    * normalized lines ever seen (vocabulary-scale, orders of magnitude
    * below the corpus), rewritten per batch into a fresh generation dir
    * and published by an atomic pointer swap — see [[foldGenState]] for
    * the recovery contract. `keepPrevious = true` leaves superseded
    * generations on disk (readers with multi-minute scans at 100 TB need
    * a retention grace; clean up out-of-band), mirroring
    * `compactShingleIndex`'s flag.
    */
  def lineDedupStream(docs: DataFrame, idCol: String, textCol: String,
                      statePath: String, sink: DataFrame => Unit,
                      maxDocFreq: Long, minLineChars: Int = 1,
                      keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processLineDedupBatch(batch, batchId, idCol, textCol, statePath, sink,
        maxDocFreq, minLineChars, keepPrevious)
    }

  /** Streaming ANN index maintenance — the continuous twin of
    * [[graft.ml.Similarity.appendToIvfPqIndex]]. The FIRST micro-batch
    * builds the index (coarse centroids + PQ codebook train on it — so
    * either pre-build the index with `saveIvfPqIndex` on a seed corpus,
    * or guarantee the first batch carries at least
    * max(numCentroids, pqCentroids) vectors); every later batch is
    * assigned + encoded under the FROZEN quantizer and appended to the
    * centroid-partitioned lists — O(batch) work per batch. The drift
    * cost of the frozen quantizer is the recall harness's `drift`
    * measurement, and a re-train is a rebuild with `saveIvfPqIndex`.
    *
    * Crash-replay contract (same as [[dedupNearStream]]): the committed
    * batch id is recorded in `_last_batch` AFTER the append, so an
    * at-least-once redelivery of a completed batch is skipped — no
    * vector is double-appended across completed batches (a crash
    * mid-append replays that batch: at-least-once within the batch,
    * exactly-once across completed ones). The bootstrap build has its
    * own marker: `_built_by_batch` names the building batch BEFORE the
    * build runs, so a crash between a completed build and its commit
    * replays as a rebuild (overwrite-idempotent) — never as an append
    * of the entire bootstrap batch onto itself.
    *
    * `compactEvery = N` folds [[graft.ml.Similarity.compactAnnIndex]]
    * into the loop every N batches — each append leaves a file set per
    * touched list, and this stream IS the single writer the compaction
    * contract requires, so in-loop is the right place for it.
    */
  def annIndexStream(vecs: DataFrame, idCol: String, vecCol: String,
                     indexPath: String, numCentroids: Int,
                     numSubspaces: Int = 8, pqCentroids: Int = 16,
                     dim: Int = 64, residual: Boolean = false,
                     refineIters: Int = 0, coarseIters: Int = 0,
                     compactEvery: Int = 0, opCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processAnnIndexBatch(batch, batchId, idCol, vecCol, indexPath,
        numCentroids, numSubspaces, pqCentroids, dim, residual,
        refineIters, coarseIters, compactEvery, opCol)
    }

  /** One micro-batch of [[annIndexStream]], exposed for replay specs.
    * Idempotent per `batchId`.
    *
    * `opCol` turns the input into a CDC feed: rows whose `opCol` value is
    * `"delete"` route their ids to [[graft.ml.Similarity.deleteFromAnnIndex]],
    * every other row is an add. Within one micro-batch adds are applied
    * BEFORE deletes, so a delete wins over an add of the same id in the
    * same batch — and the epoch/seq visibility rule keeps that outcome
    * stable under at-least-once redelivery (a replayed batch re-appends
    * under a fresher epoch and re-deletes above it, converging to the
    * same delete-wins state). Deletes arriving before the index exists
    * are dropped (nothing to hide); the bootstrap build uses only the
    * batch's add rows.
    */
  private[graft] def processAnnIndexBatch(batch: DataFrame,
      batchId: Long, idCol: String, vecCol: String, indexPath: String,
      numCentroids: Int, numSubspaces: Int, pqCentroids: Int, dim: Int,
      residual: Boolean, refineIters: Int = 0, coarseIters: Int = 0,
      compactEvery: Int = 0, opCol: Option[String] = None): Unit = {
    import graft.ml.Similarity
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, indexPath)) return
    val adds = opCol.map(c =>
      batch.filter(coalesce(col(c), lit("")) =!= "delete").drop(c))
      .getOrElse(batch)
    val dels = opCol.map(c => batch.filter(col(c) === "delete"))
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!adds.isEmpty) {
      val built =
        fs.exists(new org.apache.hadoop.fs.Path(indexPath, "codebook"))
      // `_built_by_batch` records WHICH batch performed the bootstrap
      // build, written BEFORE building: if the build completes (codebook
      // exists) but the crash lands before commitBatch, the replay of
      // that same batch id re-runs the overwrite-idempotent build instead
      // of routing to append — which would double every bootstrap vector
      // (r11 ADVICE). A pre-built seed index (codebook present, no
      // marker) still routes to append.
      val builtByPath =
        new org.apache.hadoop.fs.Path(root, "_built_by_batch")
      val builtBy = SmallFiles.read(fs, builtByPath).flatMap(_.toLongOption)
      if (!built || builtBy.contains(batchId)) {
        SmallFiles.publish(fs, builtByPath, batchId.toString)
        Similarity.saveIvfPqIndex(adds, idCol, vecCol, numCentroids,
          indexPath, numSubspaces, pqCentroids, dim, residual,
          refineIters, coarseIters)
      } else
        Similarity.appendToIvfPqIndex(spark, adds, idCol, vecCol,
          indexPath)
    }
    dels.foreach { d =>
      if (fs.exists(new org.apache.hadoop.fs.Path(indexPath, "codebook")) &&
          !d.isEmpty)
        Similarity.deleteFromAnnIndex(spark, indexPath,
          d.select(col(idCol)), idCol)
    }
    commitBatch(spark, indexPath, batchId)
    // In-loop small-files maintenance: every appended batch leaves a file
    // set per touched list, so compact every N batches from the SAME
    // single-writer thread that owns the appends (the compactAnnIndex
    // contract). Runs after the commit — a compaction failure or crash
    // here never re-delivers the batch's vectors, and the next multiple
    // picks the work up; replayed (already-committed) batches return
    // before this point and never double-compact.
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      Similarity.compactAnnIndex(spark, indexPath)
  }

  /** Streaming sign-LSH index maintenance — the LSH analog of
    * [[annIndexStream]], and the simpler one: sign buckets are
    * data-independent, so there is NO quantizer to train, no drift, and
    * no re-train schedule — the first batch writes the index (the bit
    * width is fixed here, stamped into the meta), every later batch
    * appends hashed under the INDEX'S stored bits. Same crash-replay
    * contracts: `_last_batch` skips redelivered batches,
    * `_built_by_batch` turns a replay of the bootstrap into an
    * overwrite-idempotent rebuild, `compactEvery` folds
    * [[graft.ml.Similarity.compactAnnIndex]] into the loop.
    */
  def lshIndexStream(vecs: DataFrame, idCol: String, vecCol: String,
                     indexPath: String, nBits: Int,
                     compactEvery: Int = 0, opCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processLshIndexBatch(batch, batchId, idCol, vecCol, indexPath,
        nBits, compactEvery, opCol)
    }

  /** One micro-batch of [[lshIndexStream]]. Idempotent per `batchId`.
    * `opCol` gives the same CDC adds+deletes contract as
    * [[processAnnIndexBatch]] (adds before deletes; delete wins in-batch).
    */
  private[graft] def processLshIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexPath: String, nBits: Int,
      compactEvery: Int = 0, opCol: Option[String] = None): Unit = {
    import graft.ml.Similarity
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, indexPath)) return
    val adds = opCol.map(c =>
      batch.filter(coalesce(col(c), lit("")) =!= "delete").drop(c))
      .getOrElse(batch)
    val dels = opCol.map(c => batch.filter(col(c) === "delete"))
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!adds.isEmpty) {
      val built = fs.exists(new org.apache.hadoop.fs.Path(indexPath, "meta"))
      val builtByPath =
        new org.apache.hadoop.fs.Path(root, "_built_by_batch")
      val builtBy = SmallFiles.read(fs, builtByPath).flatMap(_.toLongOption)
      if (!built || builtBy.contains(batchId)) {
        SmallFiles.publish(fs, builtByPath, batchId.toString)
        Similarity.saveLshIndex(adds, idCol, vecCol, indexPath, nBits)
      } else
        Similarity.appendToLshIndex(spark, adds, idCol, vecCol, indexPath)
    }
    dels.foreach { d =>
      if (fs.exists(new org.apache.hadoop.fs.Path(indexPath, "meta")) &&
          !d.isEmpty)
        Similarity.deleteFromAnnIndex(spark, indexPath,
          d.select(col(idCol)), idCol)
    }
    commitBatch(spark, indexPath, batchId)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      Similarity.compactAnnIndex(spark, indexPath)
  }

  /** Streaming inverted-index maintenance — the lexical analog of
    * [[annIndexStream]]: the first micro-batch builds a
    * [[graft.ml.TextIndex]] layout, every later batch appends its
    * postings/doclens and bumps the corpus stats (O(batch) work; no
    * trained quantizer, so like [[lshIndexStream]] there is no drift and
    * no re-train schedule). Same crash-replay contracts (`_last_batch`
    * skip, `_built_by_batch` rebuild-not-append on bootstrap replay),
    * same CDC `opCol` adds+deletes semantics, and `compactEvery` folds
    * [[graft.ml.TextIndex.compactTextIndex]] into the loop — per-batch
    * appends accumulate small files per bucket and leave the stats
    * incrementally-maintained; periodic compaction restores both.
    */
  def textIndexStream(docs: DataFrame, idCol: String, textCol: String,
                      indexPath: String, numBuckets: Int = 64,
                      compactEvery: Int = 0, opCol: Option[String] = None,
                      dictPath: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processTextIndexBatch(batch, batchId, idCol, textCol, indexPath,
        numBuckets, compactEvery, opCol, dictPath)
    }

  /** One micro-batch of [[textIndexStream]]. Idempotent per `batchId`;
    * adds before deletes (delete wins in-batch, stable under replay —
    * the [[processAnnIndexBatch]] contract).
    *
    * `dictPath` keeps the SymSpell fuzzy/suggest dictionary FRESH under
    * streaming ingest instead of waiting for an offline rebuild:
    * append-only batches fold their vocabulary delta incrementally
    * ([[graft.ml.TextIndex.updateTermDictWithAdds]] — O(|vocab|+|batch|),
    * no postings scan); the bootstrap build and any batch carrying
    * DELETES run the full [[graft.ml.TextIndex.saveTermDict]] rebuild
    * (df decrements need the live postings). A crash between the index
    * write and the dict fold replays the whole batch — the same
    * at-least-once df degradation as the index's own re-append, and a
    * later rebuild (any delete batch or offline saveTermDict) restores
    * exact counts.
    */
  private[graft] def processTextIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, indexPath: String,
      numBuckets: Int = 64, compactEvery: Int = 0,
      opCol: Option[String] = None,
      dictPath: Option[String] = None): Unit = {
    import graft.ml.TextIndex
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, indexPath)) return
    val adds = opCol.map(c =>
      batch.filter(coalesce(col(c), lit("")) =!= "delete").drop(c))
      .getOrElse(batch)
    val dels = opCol.map(c => batch.filter(col(c) === "delete"))
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    var dictAction: String = "none" // none | fold | rebuild
    if (!adds.isEmpty) {
      val built =
        fs.exists(new org.apache.hadoop.fs.Path(indexPath, "_text_stats"))
      val builtByPath =
        new org.apache.hadoop.fs.Path(root, "_built_by_batch")
      val builtBy = SmallFiles.read(fs, builtByPath).flatMap(_.toLongOption)
      if (!built || builtBy.contains(batchId)) {
        SmallFiles.publish(fs, builtByPath, batchId.toString)
        TextIndex.saveTextIndex(adds, idCol, textCol, indexPath, numBuckets)
        dictAction = "rebuild" // bootstrap (or its replay): full derive
      } else {
        TextIndex.appendToTextIndex(adds, idCol, textCol, indexPath)
        dictAction = "fold"
      }
    }
    dels.foreach { d =>
      if (fs.exists(new org.apache.hadoop.fs.Path(indexPath, "_text_stats")) &&
          !d.isEmpty) {
        TextIndex.deleteFromTextIndex(spark, indexPath,
          d.select(col(idCol)), idCol)
        dictAction = "rebuild" // df decrements need the live postings
      }
    }
    dictPath.foreach { dp =>
      val dictExists = TextIndex.termDictExists(spark, dp)
      dictAction match {
        case "fold" if dictExists =>
          TextIndex.updateTermDictWithAdds(spark, dp, adds, idCol, textCol)
        case "fold" | "rebuild" =>
          TextIndex.saveTermDict(spark, indexPath, dp, numBuckets)
        case _ => ()
      }
    }
    commitBatch(spark, indexPath, batchId)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      TextIndex.compactTextIndex(spark, indexPath)
  }

  /** Streaming CCNet-exact paragraph dedup — the continuous twin of
    * [[graft.ml.Dedup.lineDedupKeepFirst]]. State = the first-occurrence
    * table (line hash → minimum (doc, position) ever seen); a batch's
    * line survives iff it IS the merged first occurrence. With doc ids
    * increasing in arrival order the first occurrence never moves once
    * set, so per-batch output equals the batch operator over the stream
    * prefix restricted to the batch's docs — the same exactness contract
    * as [[lineDedupStream]], with the same generation-pointer recovery.
    */
  def lineDedupKeepFirstStream(docs: DataFrame, idCol: String,
                               textCol: String, statePath: String,
                               sink: DataFrame => Unit,
                               minLineChars: Int = 1,
                               keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processLineDedupKeepFirstBatch(batch, batchId, idCol, textCol,
        statePath, sink, minLineChars, keepPrevious)
    }

  // ----------------------- generation-pointer state fold (shared core)

  /** Fold one batch into generation-pointer state and return the current
    * state directory. The pointer file `_freq_state` holds
    * "<generation-dir> <folded-through-batch-id>"; recovery contract:
    *   - crash before the swap → replay re-merges from the old
    *     generation (the half-written dir is overwritten — its number
    *     derives from the pointer);
    *   - crash after the swap → the recorded folded id ≥ this batch id,
    *     so the fold is skipped and nothing double-counts.
    * `merge(prior)` must return the full next state table.
    */
  private def foldGenState(spark: org.apache.spark.sql.SparkSession,
      statePath: String, batchId: Long, keepPrevious: Boolean)(
      merge: Option[DataFrame] => DataFrame): String = {
    val fs = fsOf(spark, statePath)
    val gens = graft.ml.Generations.FoldState
    val cur = gens.current(fs, statePath)
    val genName = cur.map(_._1)
    if (cur.exists(_._2.toLong >= batchId)) s"$statePath/${genName.get}"
    else {
      val merged = merge(genName.map(g =>
        spark.read.parquet(s"$statePath/$g")))
      val next = gens.next(genName)
      merged.write.mode("overwrite").parquet(s"$statePath/$next")
      // the pointer line records the folded-through batch id
      gens.flip(fs, statePath, next, genName, keepPrevious,
        note = batchId.toString)
      s"$statePath/$next"
    }
  }

  private def committedBatch(spark: org.apache.spark.sql.SparkSession,
                             statePath: String): Long =
    SmallFiles.read(fsOf(spark, statePath),
      new org.apache.hadoop.fs.Path(statePath, "_last_batch"))
      .map(_.toLong).getOrElse(-1L)

  private def commitBatch(spark: org.apache.spark.sql.SparkSession,
                          statePath: String, batchId: Long): Unit =
    SmallFiles.publish(fsOf(spark, statePath),
      new org.apache.hadoop.fs.Path(statePath, "_last_batch"),
      batchId.toString)

  /** One micro-batch of [[lineDedupStream]], exposed for replay specs. */
  private[streaming] def processLineDedupBatch(batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, statePath: String,
      sink: DataFrame => Unit, maxDocFreq: Long, minLineChars: Int,
      keepPrevious: Boolean = false): Unit = {
    import graft.ml.Dedup
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    val lines = Dedup.lineTable(batch, idCol, textCol, minLineChars)
      .persist()
    try {
      val freqDir = foldGenState(spark, statePath, batchId, keepPrevious) {
        case Some(prior) => prior.union(Dedup.lineDocFreq(lines))
          .groupBy(col("__h")).agg(sum(col("__df")).as("__df"))
        case None => Dedup.lineDocFreq(lines)
      }
      val freq = spark.read.parquet(freqDir)
      sink(Dedup.stripLines(lines, freq, idCol, maxDocFreq))
      // marker LAST: see dedupNearStream
      commitBatch(spark, statePath, batchId)
    } finally { lines.unpersist(); () }
  }

  /** One micro-batch of [[lineDedupKeepFirstStream]]. */
  private[streaming] def processLineDedupKeepFirstBatch(batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, statePath: String,
      sink: DataFrame => Unit, minLineChars: Int,
      keepPrevious: Boolean = false): Unit = {
    import graft.ml.Dedup
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    val lines = Dedup.lineTable(batch, idCol, textCol, minLineChars)
      .persist()
    try {
      val batchFirst = lines
        .groupBy(col("__h"))
        .agg(min(struct(col("__did"), col("__p"))).as("__first"))
      val stateDir = foldGenState(spark, statePath, batchId, keepPrevious) {
        case Some(prior) => prior.union(batchFirst)
          .groupBy(col("__h")).agg(min(col("__first")).as("__first"))
        case None => batchFirst
      }
      val firstOcc = spark.read.parquet(stateDir)
      val out = lines.join(firstOcc, Seq("__h"))
        .withColumn("__keep",
          struct(col("__did"), col("__p")) === col("__first"))
        .groupBy(col("__did"))
        .agg(array_sort(collect_list(when(col("__keep"),
               struct(col("__p"), col("__l"))))).as("__ordered"),
             sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_lines"),
             count(lit(1)).as("__total"))
        .filter(col("kept_lines") > 0)
        .select(col("__did").as(idCol),
          // native one-pass field concat (same kernel as the batch twin)
          org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.ConcatStructField(
              org.apache.spark.sql.graft.ColumnBridge.expression(
                col("__ordered")),
              ordinal = 1, numFields = 2, sep = "\n")).as("clean_text"),
          col("kept_lines"),
          (col("__total") - col("kept_lines")).as("dropped_lines"))
      sink(out)
      commitBatch(spark, statePath, batchId)
    } finally { lines.unpersist(); () }
  }

  /** STREAMING CUSUM — the incremental twin of
    * [[graft.query.TimeSeries.cusumBy]]: each micro-batch folds its
    * per-(group, bin) measure partials into the generation-pointer bins
    * ledger, then re-scores the WHOLE per-series table with the exact
    * batch plan ([[graft.query.TimeSeries.cusumOverBins]]) and hands it
    * to `sink`.
    *
    * Late data is EXACT, never dropped: a late event lands in its bin
    * and the affected series re-scores — CUSUM is a prefix fold, so any
    * bin change legitimately rewrites downstream scores; mapGroups-style
    * frozen per-bin state would have to drop or mis-fold it. The honest
    * per-trigger cost is the O(bins) recompute, and the ledger is
    * BOUNDED: timeline/binMillis × groups rows (the Alerts
    * bounded-timeline argument), independent of event volume. Replay-
    * safe via the shared `_last_batch` marker (marker written LAST).
    */
  def cusumStream(events: DataFrame, groupCol: String, tsCol: String,
                  binMillis: Long, measure: org.apache.spark.sql.Column,
                  slack: Long, decision: Long, statePath: String,
                  sink: DataFrame => Unit, keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processCusumBatch(batch, batchId, groupCol, tsCol, binMillis,
        measure, slack, decision, statePath, sink, keepPrevious)
    }

  /** One micro-batch of [[cusumStream]], exposed for replay specs. */
  private[streaming] def processCusumBatch(batch: DataFrame, batchId: Long,
      groupCol: String, tsCol: String, binMillis: Long,
      measure: org.apache.spark.sql.Column, slack: Long, decision: Long,
      statePath: String, sink: DataFrame => Unit,
      keepPrevious: Boolean = false): Unit = {
    import graft.query.TimeSeries
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    val partials = TimeSeries.binTable(batch, groupCol, tsCol, binMillis,
      measure)
    val binsDir = foldGenState(spark, statePath, batchId, keepPrevious) {
      case Some(prior) => prior.unionByName(partials)
        .groupBy(col(groupCol), col("__bin"))
        .agg(sum(col("x")).as("x"))
      case None => partials
    }
    sink(TimeSeries.cusumOverBins(spark.read.parquet(binsDir), groupCol,
      slack, decision))
    commitBatch(spark, statePath, batchId)
  }

  /** STREAMING EWMA control chart — the incremental twin of
    * [[graft.query.TimeSeries.ewmaBy]]: each micro-batch folds its
    * per-(group, bin) measure partials into the generation-pointer bins
    * ledger (exactly [[cusumStream]]'s ledger — the EWMA baseline is a
    * lag fold over bins, so late data legitimately rewrites downstream
    * baselines and a frozen running state would mis-score it), then
    * re-scores the whole bin table with the exact batch plan
    * ([[graft.query.TimeSeries.ewmaOverBins]]). Ledger bounded by
    * timeline/binMillis × groups; replay-safe via `_last_batch`.
    */
  def ewmaStream(events: DataFrame, groupCol: String, tsCol: String,
                 binMillis: Long, measure: org.apache.spark.sql.Column,
                 lambda: Double, k: Int, statePath: String,
                 sink: DataFrame => Unit, keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processEwmaBatch(batch, batchId, groupCol, tsCol, binMillis,
        measure, lambda, k, statePath, sink, keepPrevious)
    }

  /** One micro-batch of [[ewmaStream]], exposed for replay specs. */
  private[streaming] def processEwmaBatch(batch: DataFrame, batchId: Long,
      groupCol: String, tsCol: String, binMillis: Long,
      measure: org.apache.spark.sql.Column, lambda: Double, k: Int,
      statePath: String, sink: DataFrame => Unit,
      keepPrevious: Boolean = false): Unit = {
    import graft.query.TimeSeries
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    val partials = TimeSeries.binTable(batch, groupCol, tsCol, binMillis,
      measure)
    val binsDir = foldGenState(spark, statePath, batchId, keepPrevious) {
      case Some(prior) => prior.unionByName(partials)
        .groupBy(col(groupCol), col("__bin"))
        .agg(sum(col("x")).as("x"))
      case None => partials
    }
    sink(TimeSeries.ewmaOverBins(spark.read.parquet(binsDir), groupCol,
      lambda, k))
    commitBatch(spark, statePath, batchId)
  }

  /** STREAMING counter increase — the incremental twin of
    * [[graft.query.TimeSeries.increaseBy]]: each micro-batch folds its
    * (series, sample-time, counter-value) rows into a samples ledger,
    * then re-scores the whole ledger with the exact batch plan and hands
    * the per-series increases to `sink`.
    *
    * increase() is ORDER-sensitive (a reset is "this sample is below its
    * predecessor"), so frozen running state would mis-score any late or
    * out-of-order scrape; the ledger re-score makes late samples EXACT —
    * a late sample slots into its position and the series re-walks as if
    * it had always been there. The ledger is BOUNDED by scrape cadence ×
    * timeline × series (the cusum bins-ledger argument), independent of
    * event volume: counters are already aggregates, one row per scrape.
    * Re-delivered samples dedupe on (series, time) keeping the max value
    * (identical on true redelivery; max is the safe fold for a
    * same-instant re-scrape of a monotone counter). Replay-safe via the
    * shared `_last_batch` marker (marker written LAST).
    */
  def increaseStream(samples: DataFrame, seriesCols: Seq[String],
                     timeCol: String, quantized: org.apache.spark.sql.Column,
                     statePath: String, sink: DataFrame => Unit,
                     keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    samples.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processIncreaseBatch(batch, batchId, seriesCols, timeCol, quantized,
        statePath, sink, keepPrevious)
    }

  /** One micro-batch of [[increaseStream]], exposed for replay specs. */
  private[streaming] def processIncreaseBatch(batch: DataFrame,
      batchId: Long, seriesCols: Seq[String], timeCol: String,
      quantized: org.apache.spark.sql.Column, statePath: String,
      sink: DataFrame => Unit, keepPrevious: Boolean = false): Unit = {
    import graft.query.TimeSeries
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    val keyCols = seriesCols.map(col) :+ col(timeCol)
    val partials = batch
      .select(keyCols :+ quantized.cast("long").as("__v"): _*)
      .groupBy(keyCols: _*).agg(max(col("__v")).as("__v"))
    val dir = foldGenState(spark, statePath, batchId, keepPrevious) {
      case Some(prior) => prior.unionByName(partials)
        .groupBy(keyCols: _*).agg(max(col("__v")).as("__v"))
      case None => partials
    }
    sink(TimeSeries.increaseBy(spark.read.parquet(dir), seriesCols,
      timeCol, col("__v"), timeCol))
    commitBatch(spark, statePath, batchId)
  }

  /** STREAMING per-group uniform sample — the incremental twin of
    * [[graft.ml.Sampling.perGroupSample]], exploiting that the hash-order
    * bottom-k is MERGEABLE: `bottomK(A ∪ B) = bottomK(bottomK(A) ∪
    * bottomK(B))`, so the ledger holds exactly k rows per group (the
    * current sample IS the state — same contract as the index streams),
    * each batch contributes only its own bottom-k, and the fold is a
    * (group-partitioned) rank over ≤ 2k rows per group. After any prefix
    * of batches the ledger equals the batch operator over all data so
    * far at the same salt — determinism comes from the hash order, not
    * arrival order, so it is also replay/shuffle-proof. Re-delivered
    * rows (same id) dedupe on (group, id) keeping the identical copy.
    */
  def sampleStream(events: DataFrame, groupCol: String, idCol: String,
                   k: Int, salt: String, statePath: String,
                   sink: DataFrame => Unit, keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processSampleBatch(batch, batchId, groupCol, idCol, k, salt,
        statePath, sink, keepPrevious)
    }

  /** One micro-batch of [[sampleStream]], exposed for replay specs. */
  private[streaming] def processSampleBatch(batch: DataFrame, batchId: Long,
      groupCol: String, idCol: String, k: Int, salt: String,
      statePath: String, sink: DataFrame => Unit,
      keepPrevious: Boolean = false): Unit = {
    import graft.ml.Sampling
    require(k > 0, "k must be positive")
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    def bottomK(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol))
        .orderBy(Sampling.bucket(col(idCol), salt).asc, col(idCol).asc)
      df.dropDuplicates(groupCol, idCol)
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k)
        .drop("__rk")
    }
    val dir = foldGenState(spark, statePath, batchId, keepPrevious) {
      case Some(prior) => bottomK(prior.unionByName(bottomK(batch)))
      case None => bottomK(batch)
    }
    sink(spark.read.parquet(dir))
    commitBatch(spark, statePath, batchId)
  }

  /** STREAMING KMV theta sketch — the incremental twin of
    * [[graft.query.ThetaSketch.kmv]]: bottom-k is EXACTLY mergeable
    * (`bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))`), so the
    * ledger holds ≤ k hash rows per group — the sketch IS the state
    * (the [[sampleStream]] contract) — and after any prefix of batches
    * it equals the batch sketch over all data so far, on any
    * partitioning or arrival order. Re-delivered values collapse
    * structurally (same value ⇒ same hash ⇒ distinct). Downstream
    * cardinality/set-algebra read the ledger with the batch estimators.
    * Replay-safe via the shared `_last_batch` marker (marker last).
    */
  def kmvStream(events: DataFrame, groupCols: Seq[String],
                value: org.apache.spark.sql.Column, k: Int,
                statePath: String, sink: DataFrame => Unit,
                keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processKmvBatch(batch, batchId, groupCols, value, k, statePath,
        sink, keepPrevious)
    }

  /** One micro-batch of [[kmvStream]], exposed for replay specs. */
  private[streaming] def processKmvBatch(batch: DataFrame, batchId: Long,
      groupCols: Seq[String], value: org.apache.spark.sql.Column, k: Int,
      statePath: String, sink: DataFrame => Unit,
      keepPrevious: Boolean = false): Unit = {
    import graft.query.ThetaSketch
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    val partial = ThetaSketch.kmv(batch, groupCols, value, k)
    val dir = foldGenState(spark, statePath, batchId, keepPrevious) {
      case Some(prior) =>
        ThetaSketch.bottomKHashes(prior.unionByName(partial), groupCols, k)
      case None => partial
    }
    sink(spark.read.parquet(dir))
    commitBatch(spark, statePath, batchId)
  }

  /** STREAMING time-bounded funnel — the incremental twin of
    * [[graft.query.Analytics.funnelWithin]]: each micro-batch folds the
    * FUNNEL-RELEVANT projection of its events — one deduped
    * `(user, step, ts)` row per distinct time a user performed a step —
    * into the generation-pointer ledger, then re-scores the whole ledger
    * with the exact batch plan and hands the converted cohort to `sink`.
    *
    * Late data is EXACT, never dropped: a late step-1 event lowers
    * `t_1`, which moves every later step's conversion window — `t_2` can
    * legitimately CHANGE OR DISAPPEAR (the event it pointed at may now
    * fall outside `(t_1, t_1+gap]`), cascading down the funnel. That is
    * why the ledger must keep each step's distinct event TIMES, not just
    * running minima: no per-step summary smaller than the time set can
    * re-derive which event wins once an earlier step moves. The ledger
    * is bounded by the funnel-relevant activity (distinct (user, step,
    * ts) triples — the same rows the batch operator's per-step
    * aggregations shuffle), NEVER the raw event volume: events matching
    * no step are dropped at the batch edge, and re-delivered events
    * dedupe structurally. Replay-safe via the shared `_last_batch`
    * marker (marker written LAST).
    */
  def funnelWithinStream(events: DataFrame, userCol: String, tsCol: String,
      steps: Seq[org.apache.spark.sql.Column], maxGapMillis: Long,
      statePath: String, sink: DataFrame => Unit,
      keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processFunnelWithinBatch(batch, batchId, userCol, tsCol, steps,
        maxGapMillis, statePath, sink, keepPrevious)
    }

  /** One micro-batch of [[funnelWithinStream]], exposed for replay specs. */
  private[streaming] def processFunnelWithinBatch(batch: DataFrame,
      batchId: Long, userCol: String, tsCol: String,
      steps: Seq[org.apache.spark.sql.Column], maxGapMillis: Long,
      statePath: String, sink: DataFrame => Unit,
      keepPrevious: Boolean = false): Unit = {
    require(maxGapMillis > 0, "need a positive gap")
    processFunnelLedgerBatch(batch, batchId, userCol, tsCol, steps,
      statePath, sink, keepPrevious,
      (ledger, stepPreds) => graft.query.Analytics.funnelWithin(
        ledger, userCol, "__ts", stepPreds, maxGapMillis))
  }

  /** STREAMING funnel timing — the incremental twin of
    * [[graft.query.Analytics.funnelTiming]] over the SAME funnel-events
    * ledger as [[funnelWithinStream]]: each trigger re-scores the whole
    * ledger with the exact batch plan (per-transition user counts +
    * exact BIGINT millisecond stats over the converted cohort). Timing
    * inherits the funnel cascade's late-data sensitivity — a late
    * step-1 event moves every transition duration behind it — so the
    * ledger re-score is the only exact shape here too.
    */
  def funnelTimingStream(events: DataFrame, userCol: String, tsCol: String,
      steps: Seq[org.apache.spark.sql.Column], statePath: String,
      sink: DataFrame => Unit, keepPrevious: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processFunnelTimingBatch(batch, batchId, userCol, tsCol, steps,
        statePath, sink, keepPrevious)
    }

  /** One micro-batch of [[funnelTimingStream]], exposed for replay specs. */
  private[streaming] def processFunnelTimingBatch(batch: DataFrame,
      batchId: Long, userCol: String, tsCol: String,
      steps: Seq[org.apache.spark.sql.Column], statePath: String,
      sink: DataFrame => Unit, keepPrevious: Boolean = false): Unit = {
    require(steps.size >= 2, "funnelTiming needs at least two steps")
    processFunnelLedgerBatch(batch, batchId, userCol, tsCol, steps,
      statePath, sink, keepPrevious,
      (ledger, stepPreds) => graft.query.Analytics.funnelTiming(
        ledger, userCol, "__ts", stepPreds))
  }

  /** Shared funnel-events ledger fold: the funnel-relevant projection of
    * each micro-batch — one deduped `(user, step, ts)` row per distinct
    * time a user performed a step — folds into the generation-pointer
    * state, and `score` re-runs the exact batch plan over the whole
    * ledger. The ledger keeps each step's distinct event TIMES, not
    * running minima: a late earlier-step event moves the cascade and a
    * later step's winner can change or disappear, which no smaller
    * summary can re-derive. Bounded by funnel-relevant activity, never
    * raw event volume; replay-safe via `_last_batch` (marker last).
    */
  private def processFunnelLedgerBatch(batch: DataFrame, batchId: Long,
      userCol: String, tsCol: String,
      steps: Seq[org.apache.spark.sql.Column], statePath: String,
      sink: DataFrame => Unit, keepPrevious: Boolean,
      score: (DataFrame, Seq[org.apache.spark.sql.Column]) => DataFrame)
      : Unit = {
    require(steps.nonEmpty, "need steps")
    val spark = batch.sparkSession
    if (batchId <= committedBatch(spark, statePath)) return // replay: skip
    // funnel-relevant projection: an event can satisfy SEVERAL step
    // predicates — it contributes one ledger row per step it matches
    // (exactly the rows the batch cascade's per-step filters would see)
    val partials = steps.zipWithIndex.map { case (cond, i) =>
      batch.filter(cond)
        .select(col(userCol), lit(i + 1L).as("__step"),
          col(tsCol).as("__ts"))
    }.reduce(_ unionByName _).distinct()
    val dir = foldGenState(spark, statePath, batchId, keepPrevious) {
      case Some(prior) => prior.unionByName(partials).distinct()
      case None => partials
    }
    val ledger = spark.read.parquet(dir)
    sink(score(ledger,
      (1 to steps.size).map(i => col("__step") === i.toLong)))
    commitBatch(spark, statePath, batchId)
  }
}
