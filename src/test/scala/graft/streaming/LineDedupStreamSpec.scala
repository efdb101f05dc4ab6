package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ml.Dedup

/** Streaming line-level boilerplate removal: per-batch output must equal
  * the batch operator run over the stream prefix (restricted to the
  * batch's docs) — that is the exact one-pass contract. Plus replay and
  * crash-window recovery for the generation-pointer state.
  */
class LineDedupStreamSpec extends SparkSuite {
  import spark.implicits._

  private val batch1 = Seq(
    (1L, "cookie banner\nalpha body one"),
    (2L, "cookie banner\nbeta body two"))
  private val batch2 = Seq(
    (10L, "cookie banner\ngamma body three"), // banner crosses threshold here
    (11L, "delta body four"))

  private def outRows(path: String) =
    spark.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
        r.getAs[Long]("dropped_lines"))).toSet

  test("per-batch output equals the batch operator over the prefix") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lds").toString
    val sinkDir = s"$dir/clean"
    var perBatch = Vector.empty[Set[(Long, String, Long)]]
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.lineDedupStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/state",
        sink = df => {
          val rows = df.collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[String]("clean_text"),
            r.getAs[Long]("dropped_lines"))).toSet
          perBatch = perBatch :+ rows
          if (rows.nonEmpty) df.write.mode("append").parquet(sinkDir)
        },
        maxDocFreq = 2L)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    // batch-1 docs: banner seen in 2 docs = threshold -> kept
    assert(perBatch(0) == Set(
      (1L, "cookie banner\nalpha body one", 0L),
      (2L, "cookie banner\nbeta body two", 0L)))
    // batch-2: banner df=3 > 2 -> stripped from doc 10 only (one-pass)
    assert(perBatch(1) == Set(
      (10L, "gamma body three", 1L),
      (11L, "delta body four", 0L)))

    // each batch's rows equal the BATCH operator over the prefix,
    // restricted to that batch's docs
    val prefixes = Seq(batch1, batch1 ++ batch2)
    prefixes.zipWithIndex.foreach { case (prefix, i) =>
      val ids = Seq(batch1, batch2)(i).map(_._1).toSet
      val twin = Dedup.lineDedup(prefix.toDF("doc_id", "text"),
          "doc_id", "text", maxDocFreq = 2L)
        .filter(col("doc_id").isInCollection(ids)).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
          r.getAs[Long]("dropped_lines"))).toSet
      assert(perBatch(i) == twin, s"batch $i != prefix twin")
    }
  }

  test("replay of a committed batch is a no-op; crash-after-swap recovers") {
    val dir = java.nio.file.Files.createTempDirectory("lds-replay").toString
    val sinkDir = s"$dir/clean"
    var sinkCalls = 0
    def sink(df: org.apache.spark.sql.DataFrame): Unit = {
      sinkCalls += 1
      if (!df.isEmpty) df.write.mode("append").parquet(sinkDir)
    }
    def run(rows: Seq[(Long, String)], id: Long): Unit =
      StreamOps.processLineDedupBatch(rows.toDF("doc_id", "text"), id,
        "doc_id", "text", s"$dir/state", sink, maxDocFreq = 2L,
        minLineChars = 1)

    run(batch1, 0L)
    assert(sinkCalls == 1)
    run(batch1, 0L) // committed replay: skipped outright
    assert(sinkCalls == 1, "replayed committed batch must not re-sink")

    // crash AFTER the generation swap but BEFORE the marker: erase the
    // marker back to batch 0 and replay batch 1 after it already folded
    run(batch2, 1L)
    val afterOnce = outRows(sinkDir)
    val marker = new java.io.File(s"$dir/state/_last_batch")
    val ptr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/state/_freq_state")).trim
    assert(ptr.endsWith(" 1"), s"pointer should record folded batch: $ptr")
    java.nio.file.Files.writeString(marker.toPath, "0")
    run(batch2, 1L) // replay: folded id stops a double-merge
    // frequencies did not double-count: doc 11's line still unique (df=1),
    // and doc 10's banner is stripped exactly as before
    val freq = spark.read.parquet(
      s"$dir/state/${ptr.split(" ")(0)}")
    assert(freq.filter(col("__df") > 3).isEmpty,
      "no line can exceed the 3 contributing docs")
    // the re-sink added duplicate rows (at-least-once within the batch) —
    // but with the SAME strip decisions as the first run
    assert(outRows(sinkDir) == afterOnce)
  }

  test("an unreadable state pointer fails the batch instead of folding " +
      "from empty; the previous generation is untouched") {
    val dir = java.nio.file.Files.createTempDirectory("lds-unreadable")
    val state = dir.resolve("state")
    def run(rows: Seq[(Long, String)], id: Long): Unit =
      StreamOps.processLineDedupBatch(rows.toDF("doc_id", "text"), id,
        "doc_id", "text", state.toString, _ => (), maxDocFreq = 2L,
        minLineChars = 1)
    run(batch1, 0L)
    val ptr = state.resolve("_freq_state")
    val gen = java.nio.file.Files.readString(ptr).trim.split(" ")(0)
    def genRows() = spark.read.parquet(state.resolve(gen).toString)
      .collect().map(r => r.getAs[Long]("__h") -> r.getAs[Long]("__df"))
      .toSet
    val before = genRows()
    assert(before.nonEmpty)
    // a persistent read error where the pointer should be
    java.nio.file.Files.delete(ptr)
    java.nio.file.Files.createDirectory(ptr)
    intercept[java.io.IOException](run(batch2, 1L))
    assert(genRows() == before, "folded frequencies were rewritten")
    assert(java.nio.file.Files.readString(state.resolve("_last_batch"))
      .trim == "0")
  }

  test("generation swaps vs racing readers: reads fail only inside the " +
      "documented deletion window; folded frequencies never shrink") {
    val dir = java.nio.file.Files.createTempDirectory("lds-race").toString
    val state = s"$dir/state"
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val unexplained = new java.util.concurrent.atomic.AtomicInteger(0)
    val lastSum = new java.util.concurrent.atomic.AtomicLong(-1L)
    val regressions = new java.util.concurrent.atomic.AtomicInteger(0)
    def pointer(): Option[String] = {
      val p = java.nio.file.Paths.get(s"$state/_freq_state")
      if (java.nio.file.Files.exists(p))
        Some(java.nio.file.Files.readString(p).trim) else None
    }
    val reader = new Thread(() => {
      while (!stop.get()) pointer().foreach { ptr =>
        val gen = ptr.split(" ")(0)
        try {
          val sum = spark.read.parquet(s"$state/$gen")
            .agg(org.apache.spark.sql.functions.sum("__df"))
            .head().getLong(0)
          // one-pass line frequencies only ever grow batch over batch
          val prev = lastSum.getAndSet(sum)
          if (sum < prev) { regressions.incrementAndGet(); () }
        } catch {
          case _: Exception =>
            failures.incrementAndGet()
            // legitimate ONLY if the generation we resolved was retired
            // while we read it (pointer moved = deletion window)
            if (pointer().map(_.split(" ")(0)).contains(gen)) {
              unexplained.incrementAndGet(); ()
            }
        }
      }
    })
    reader.start()
    try {
      (0 until 15).foreach { i =>
        val rows = Seq((100L * i, s"common banner\nbody number $i"),
          (100L * i + 1, s"common banner\nother text $i"))
        StreamOps.processLineDedupBatch(rows.toDF("doc_id", "text"), i.toLong,
          "doc_id", "text", state,
          sink = _ => (), maxDocFreq = 1000L, minLineChars = 1)
      }
    } finally { stop.set(true); reader.join(10000) }
    assert(unexplained.get() == 0,
      s"${unexplained.get()} reads failed OUTSIDE the deletion window")
    assert(regressions.get() == 0, "folded frequency sum shrank")
    // the final generation is intact and holds every folded batch
    val ptr = pointer().get
    assert(ptr.endsWith(" 14"))
    val fin = spark.read.parquet(s"$state/${ptr.split(" ")(0)}")
      .collect().map(r => r.getAs[Long]("__h") -> r.getAs[Long]("__df"))
    // 15 batches x (banner in 2 docs + 2 unique lines): banner df = 30,
    // 30 singletons -> 31 distinct hashes summing to 60
    assert(fin.length == 31, s"${fin.length} hashes")
    assert(fin.map(_._2).sum == 60L)
    assert(fin.map(_._2).max == 30L)
  }

  test("keepPrevious retention grace: racing readers NEVER fail") {
    val dir = java.nio.file.Files.createTempDirectory("lds-keep").toString
    val state = s"$dir/state"
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val p = java.nio.file.Paths.get(s"$state/_freq_state")
        if (java.nio.file.Files.exists(p)) {
          val gen = java.nio.file.Files.readString(p).trim.split(" ")(0)
          try {
            spark.read.parquet(s"$state/$gen").count()
            reads.incrementAndGet(); ()
          } catch { case _: Exception => failures.incrementAndGet(); () }
        }
      }
    })
    reader.start()
    try {
      (0 until 10).foreach { i =>
        StreamOps.processLineDedupBatch(
          Seq((10L * i, s"banner\nbody $i")).toDF("doc_id", "text"),
          i.toLong, "doc_id", "text", state, sink = _ => (),
          maxDocFreq = 1000L, minLineChars = 1, keepPrevious = true)
      }
    } finally { stop.set(true); reader.join(10000) }
    assert(failures.get() == 0,
      s"${failures.get()} reads failed despite retention grace")
    assert(reads.get() > 0, "reader never observed a generation")
    // every generation is still on disk for out-of-band cleanup
    val gens = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("freq.gen")).map(_.getName).sorted
    assert(gens.length == 10, gens.mkString(","))
  }

  test("keep-first streaming twin equals the batch operator on the prefix") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lds-kf").toString
    val b1 = Seq(
      (1L, "shared quote\nalpha one"),
      (2L, "beta two\nShared  Quote")) // intra-batch dup, doc 1 is first
    val b2 = Seq(
      (10L, "shared quote\ngamma three"), // cross-batch dup of batch 1
      (11L, "delta four"))
    var perBatch = Vector.empty[Set[(Long, String, Long)]]
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.lineDedupKeepFirstStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/state",
        sink = df => {
          perBatch = perBatch :+ df.collect().map(r =>
            (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
             r.getAs[Long]("dropped_lines"))).toSet
        })
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val prefixes = Seq(b1, b1 ++ b2)
    prefixes.zipWithIndex.foreach { case (prefix, i) =>
      val ids = Seq(b1, b2)(i).map(_._1).toSet
      val twin = graft.ml.Dedup.lineDedupKeepFirst(
          prefix.toDF("doc_id", "text"), "doc_id", "text")
        .filter(col("doc_id").isInCollection(ids)).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
          r.getAs[Long]("dropped_lines"))).toSet
      assert(perBatch(i) == twin, s"batch $i: ${perBatch(i)} != $twin")
    }
    // cross-batch: doc 10 lost the quote to doc 1's first occurrence
    assert(perBatch(1).contains((10L, "gamma three", 1L)))
  }
}
