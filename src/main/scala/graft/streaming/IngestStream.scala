package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ingest.{IngestPipeline, JsonFlattener, SchemaInference}
import graft.ingest.IngestPipeline.{SchemaRegistry, StreamConfig}

/** Bulk / continuous ingest: the same pure flatten+infer+rename functions as
  * [[IngestPipeline]], but run **on executors** over a `Dataset[String]` of
  * raw JSON events (Structured Streaming micro-batches or bulk files).
  *
  * Distributed shape — two narrow passes, no data ever collected:
  *   1. per-partition schema inference — only `StructType`s (bytes, not
  *      rows) cross to the driver, where they merge with conflict renaming
  *      into the stream's cumulative schema;
  *   2. with the merged schema broadcast, records are flattened, renamed
  *      and cast to `Row`s executor-side, then appended as
  *      date/hour/minute-partitioned parquet.
  *
  * This mirrors the reference's staging→parquet pipeline (parseable
  * `src/parseable/streams.rs:922-1001`, `src/sync.rs:244-315`) with
  * Structured Streaming playing the role of the 60 s local-sync loop.
  */
object IngestStream {

  /** Driver-side merge that *resolves* type conflicts by renaming the
    * incoming field to its typed sibling (`name_<suffix>`) instead of
    * failing — cross-partition mixed-type batches land as parallel typed
    * columns (reference `detect_schema_conflicts`, mod.rs:495-534).
    */
  def mergeWithRenames(base: StructType, incoming: StructType): Either[String, StructType] = {
    val acc = scala.collection.mutable.LinkedHashMap.from(
      base.fields.map(f => f.name -> f))
    var err: Option[String] = None
    incoming.fields.foreach { f =>
      if (err.isEmpty) {
        val target = acc.get(f.name) match {
          case Some(cur) if cur.dataType != f.dataType &&
              !SchemaInference.compatible(f.dataType, cur.dataType) =>
            f.name + "_" + SchemaInference.suffixFor(f.dataType)
          case _ => f.name
        }
        acc.get(target) match {
          case None => acc += target -> f.copy(name = target)
          case Some(cur) =>
            SchemaInference.tryMerge(
              new StructType(Array(cur)),
              new StructType(Array(f.copy(name = target)))) match {
              case Left(e)  => err = Some(e)
              case Right(m) => acc += target -> m.fields.head
            }
        }
      }
    }
    err.toLeft(StructType(acc.values.toArray))
  }

  /** Pass 1: the batch schema and event count, computed distributively —
    * only per-partition `(schema, count, violation)` triples cross to the
    * driver. A dynamic stream folds each partition's records into a
    * partial schema and the partials merge with renames on the driver. A
    * static stream infers nothing: every event must fit the declared
    * schema ([[IngestPipeline.validateAgainstStatic]], the HTTP path's
    * check), and the first violation refuses the batch. The count is the
    * number of events pass 2 writes: both passes drop the same payloads
    * (those [[IngestPipeline.prepare]] refuses).
    */
  def inferBatchSchema(raw: Dataset[String], cfg: StreamConfig,
                       base: StructType): Either[String, (StructType, Long)] = {
    val partials = raw.mapPartitions { it =>
      var acc = new StructType()
      var n = 0L
      var err: Option[String] = None
      while (err.isEmpty && it.hasNext)
        IngestPipeline.prepare(it.next(), cfg).foreach { events =>
          n += events.size
          events.foreach { ev =>
            cfg.staticSchema match {
              case Some(fixed) => err = err.orElse(
                IngestPipeline.validateAgainstStatic(ev, fixed))
              case None =>
                val renamed = SchemaInference.renameConflicts(ev, base)
                mergeWithRenames(acc, SchemaInference.inferSchema(renamed))
                  .foreach(acc = _)
            }
          }
        }
      Iterator.single((acc, n, err))
    }(org.apache.spark.sql.Encoders
      .kryo[(StructType, Long, Option[String])]).collect()
    val n = partials.map(_._2).sum
    partials.collectFirst { case (_, _, Some(e)) => e } match {
      case Some(e) => Left(e)
      case None => cfg.staticSchema match {
        case Some(fixed) => Right((fixed, n))
        case None =>
          partials.foldLeft(Right(base): Either[String, StructType]) {
            case (Left(e), _)            => Left(e)
            case (Right(b), (inc, _, _)) => mergeWithRenames(b, inc)
          }.map((_, n))
      }
    }
  }

  /** Pass 2: flatten (+ rename, on a dynamic stream) and cast to Rows
    * against the broadcast merged schema, entirely executor-side. A static
    * stream's events were validated against its schema in pass 1 and are
    * built as they are.
    */
  def toRowsDistributed(raw: Dataset[String], cfg: StreamConfig,
                        merged: StructType): DataFrame = {
    val spark = raw.sparkSession
    val bc = spark.sparkContext.broadcast(merged)
    val rename = cfg.staticSchema.isEmpty
    val rdd = raw.rdd.mapPartitions { it =>
      it.flatMap { json =>
        IngestPipeline.prepare(json, cfg).getOrElse(Nil).map { ev =>
          val r =
            if (rename) SchemaInference.renameConflicts(ev, bc.value) else ev
          IngestPipeline.toRows(Seq(r), bc.value).head
        }
      }
    }
    spark.createDataFrame(rdd, merged)
  }

  /** Process one micro-batch: infer (or validate) → commit schema → build
    * rows → enrich → append partitioned parquet. Also feeds [[LiveTail]]
    * subscribers. Returns the event count pass 1 took, so the written
    * frame is never counted by a job of its own.
    *
    * The batch's `p_timestamp` is one driver-side literal: the frame is
    * evaluated by the write and the tail fan-out, and a
    * `current_timestamp()` would stamp each of them differently.
    */
  def processBatch(raw: Dataset[String], cfg: StreamConfig,
                   registry: SchemaRegistry, root: String,
                   format: String = "json",
                   txnCatalog: Option[(String, Seq[String])] = None)
      : Either[String, Long] = {
    val base = registry.get(cfg.name).getOrElse(new StructType())
    for {
      scanned <- inferBatchSchema(raw, cfg, base)
      (batchSchema, written) = scanned
      merged <- registry.commit(cfg.name, batchSchema)
    } yield {
      val df = toRowsDistributed(raw, cfg, merged)
        .withColumn("p_timestamp",
          lit(java.sql.Timestamp.from(java.time.Instant.now())))
        .withColumn("p_user_agent", lit(""))
        .withColumn("p_src_ip", lit(""))
        .withColumn("p_format", lit(format))
      IngestPipeline.append(df, root, cfg)
      // persist the merged schema with the stream metadata so a restarted
      // process (fresh registry) resumes with the full union schema.
      // stream.json has a SECOND writer (the HTTP create/update handlers
      // persist layout changes durably) — mergeSave keeps every
      // HTTP-writable facet (z-order, custom partitions, limit,
      // retention, static flag) this job's captured config doesn't
      // carry, atomically against concurrent HTTP updates; a facet the
      // job HAS wins truthfully (it is laying batches out with it).
      graft.catalog.StreamMeta.mergeSave(root,
        graft.catalog.StreamMeta.fromConfig(cfg, Some(merged)))
      // incremental catalog commit: stats for JUST this batch's new files
      // (one atomic version per micro-batch, O(batch) not O(table))
      txnCatalog.foreach { case (catRoot, statCols) =>
        graft.catalog.TxnCatalog.appendNewFiles(
          raw.sparkSession, s"$root/${cfg.name}", catRoot, statCols)
      }
      // the batch is already flushed to parquet above — subscribers get the
      // push, but the staging union must not re-count it; with nobody
      // tailing there is nothing to collect
      if (LiveTail.subscriberCount(cfg.name) > 0)
        LiveTail.publish(cfg.name, df, persisted = true)
      written
    }
  }

  /** Bootstrap a fresh registry from persisted stream metadata (restart
    * path — the schema survives in `.stream/stream.json`).
    */
  def bootstrapRegistry(root: String, cfg: StreamConfig,
                        registry: SchemaRegistry): Unit =
    graft.catalog.StreamMeta.load(root, cfg.name)
      .flatMap(_.schema)
      .foreach(s => registry.commit(cfg.name, s))

  /** Continuous ingest from a streaming Dataset[String] of JSON events
    * (file source, Kafka `value`, or a MemoryStream in tests). Micro-batch
    * cadence mirrors the reference's 60 s local-sync; default 10 s keeps
    * query-visible freshness tight (SURVEY §2.9).
    */
  def start(events: Dataset[String], cfg: StreamConfig,
            registry: SchemaRegistry, root: String, checkpoint: String,
            triggerMs: Long = 10000L): StreamingQuery =
    events.writeStream
      .queryName(s"ingest-${cfg.name}")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        processBatch(batch, cfg, registry, root).left.foreach { e =>
          throw new IllegalStateException(s"ingest batch failed: $e")
        }
        ()
      }
      .start()

  /** Whether the Kafka structured-streaming connector
    * (`spark-sql-kafka-0-10`, a separate artifact not bundled with Spark)
    * is on the classpath.
    */
  def kafkaAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  /** Kafka ingest source — the production ingestion path (reference
    * `src/connectors/kafka/processor.rs:44-200`: consumer → deserialize →
    * the same `flatten_and_push_logs` pipeline). Returns the record
    * `value` as a `Dataset[String]` of JSON events — the contract
    * [[start]] takes, so it runs the same
    * infer→rename→append pipeline on micro-batches of Kafka records, with
    * offsets tracked in the streaming checkpoint. Delivery into the
    * parquet table is AT-LEAST-ONCE: a batch retried after a mid-append
    * crash re-appends (the plain parquet sink is not batch-id
    * idempotent); downstream exact dedup ([[graft.ml.Dedup.exactGroups]]) or a
    * batch-id-keyed [[graft.catalog.TxnCatalog]] commit upgrades this to
    * effectively-once where required.
    *
    * Requires the `spark-sql-kafka-0-10` jars (plus `kafka-clients`) on
    * the classpath — they are NOT part of the Spark distribution. Fails
    * fast with a clear message when absent ([[kafkaAvailable]]) instead
    * of a `ClassNotFoundException` mid-plan.
    *
    * @param maxOffsetsPerTrigger bound records per micro-batch — the
    *   backpressure knob that keeps batch size (and therefore executor
    *   memory + files-per-commit) constant under lag at scale
    */
  def fromKafka(spark: SparkSession, bootstrapServers: String,
                subscribe: String, startingOffsets: String = "latest",
                maxOffsetsPerTrigger: Option[Long] = None,
                extraOptions: Map[String, String] = Map.empty)
      : Dataset[String] = {
    if (!kafkaAvailable)
      throw new IllegalStateException(
        "Kafka source requires the spark-sql-kafka-0-10 connector jars on " +
          "the classpath (org.apache.spark:spark-sql-kafka-0-10_2.13 and " +
          "org.apache.kafka:kafka-clients) — not bundled with Spark")
    import spark.implicits._
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", subscribe)
      .option("startingOffsets", startingOffsets)
      // a deleted/compacted-away offset range should surface as lag, not
      // kill the ingest pipeline
      .option("failOnDataLoss", "false")
    val withMax = maxOffsetsPerTrigger
      .foldLeft(reader)((r, n) => r.option("maxOffsetsPerTrigger", n.toString))
    extraOptions.foldLeft(withMax) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .selectExpr("CAST(value AS STRING)")
      .as[String]
  }

  /** Read a stream's table with the registry's merged schema passed
    * explicitly. Files written before a schema-growing batch lack the new
    * columns — plain `read.parquet` picks an arbitrary footer (wrong and
    * nondeterministic), and `mergeSchema=true` opens every footer (slow at
    * 100 TB). The registry already holds the union schema, so the scan gets
    * it for free and older files null-fill (SURVEY §7.4 hard part 2).
    */
  def readTable(spark: SparkSession, root: String, cfg: StreamConfig,
                registry: SchemaRegistry): DataFrame =
    registry.get(cfg.name)
      .map(graft.catalog.StreamMeta.enriched)
      // restart path: a fresh registry still reads the union schema from
      // the persisted stream metadata
      .orElse(graft.catalog.StreamMeta.unionSchema(root, cfg.name)) match {
      case Some(schema) =>
        spark.read.schema(schema).parquet(s"$root/${cfg.name}")
      case None => spark.read.parquet(s"$root/${cfg.name}")
    }
}
