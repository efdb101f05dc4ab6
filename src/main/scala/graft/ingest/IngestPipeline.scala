package graft.ingest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** JSON → stream ingest: flatten, infer, conflict-rename, enrich, append as
  * date/hour/minute-partitioned parquet.
  *
  * The Spark shape of the reference's ingest path (parseable
  * `src/handlers/http/ingest.rs` → `src/event/format/json.rs` →
  * `src/parseable/streams.rs`):
  *   JSON text → [[JsonFlattener.flattenEvent]] → [[SchemaInference]] (V1
  *   types, typed-sibling renames) → merged stream schema → Rows →
  *   `createDataFrame.write.partitionBy(date,hour,minute)`.
  *
  * Scale note: this driver-side entry point is for API-sized batches (the
  * reference ingests HTTP payloads, not files). Bulk ingest goes through
  * [[graft.streaming.IngestStream]] where the same pure functions run inside
  * `mapPartitions` on executors.
  */
object IngestPipeline {

  /** Opt-in per-stream Z-ORDER layout policy: every appended batch is laid
    * out along the Morton curve of `dims` ([[graft.operators.ZOrder]])
    * before the parquet sink, so per-file min/max stats stay tight on ALL
    * the clustered columns at once and the stats catalog prunes
    * multi-dimensional box predicates — the write-path upgrade that turns
    * the reference's time-only manifest pruning
    * (`src/query/stream_schema_provider.rs:1032-1137`) multi-dimensional.
    * `dims` must be numeric (or timestamp) columns; `k·bits ≤ 63`.
    * `numFiles = 0` ranges a batch over `spark.sql.shuffle.partitions`
    * (empty ranges write no files, so small batches stay small); compaction
    * ([[graft.catalog.Compaction]]) re-clusters at the partition level for
    * the long-term layout.
    */
  final case class ZOrderPolicy(dims: Seq[String], bits: Int = 12,
                                numFiles: Int = 0) {
    require(dims.nonEmpty && bits >= 1 && bits <= 62 &&
      dims.size * bits <= 63,
      "z-order needs 1+ dims, bits in [1, 62] and dims*bits <= 63")
  }

  final case class StreamConfig(
      name: String,
      timePartition: Option[String] = None, // event-time column, else arrival
      customPartitions: Seq[String] = Nil,
      staticSchema: Option[StructType] = None,
      separator: String = JsonFlattener.DefaultSeparator,
      // reference X-P-Time-Partition-Limit ("90d"): recorded stream
      // metadata, surfaced by GET .../info; retention enforcement itself
      // goes through graft.catalog.Retention
      timePartitionLimitDays: Option[Int] = None,
      zOrder: Option[ZOrderPolicy] = None)

  /** Per-stream cumulative schema registry (grows monotonically — reference
    * `commit_schema`). Thread-safe for concurrent ingest.
    */
  final class SchemaRegistry {
    private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
    def get(stream: String): Option[StructType] = Option(schemas.get(stream))
    def remove(stream: String): Unit = { schemas.remove(stream); () }
    def commit(stream: String, incoming: StructType): Either[String, StructType] = {
      var out: Either[String, StructType] = null
      schemas.compute(stream, (_, cur) => {
        val merged =
          if (cur == null) Right(incoming)
          else SchemaInference.tryMerge(cur, incoming)
        out = merged
        merged.getOrElse(cur)
      })
      out
    }
  }

  private val mapper = new ObjectMapper()

  /** Parse, flatten and normalize a JSON payload (object or array of
    * objects) into per-event flat objects (no conflict renaming yet — that
    * happens per record against the accumulated schema in [[ingest]]).
    * Text that is not JSON is refused like any other bad payload, so a
    * streaming micro-batch skips the record instead of failing.
    */
  def prepare(json: String, cfg: StreamConfig): Either[String, Seq[ObjectNode]] = {
    val root =
      try mapper.readTree(json)
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          return Left(s"malformed JSON body: ${e.getOriginalMessage}")
      }
    val events: Either[String, Seq[ObjectNode]] = root match {
      case a if a.isArray =>
        Right(a.elements().asScala.toSeq.collect { case o: ObjectNode => o })
      case o: ObjectNode => Right(Seq(o))
      case other         => Left(s"not a JSON object/array: ${other.getNodeType}")
    }
    events.flatMap { evs =>
      val out = Seq.newBuilder[ObjectNode]
      var err: Option[String] = None
      val it = evs.iterator
      while (err.isEmpty && it.hasNext) {
        val ev = it.next()
        SchemaInference.normalizeFieldNames(ev) match {
          case Left(e) => err = Some(e)
          case Right(norm) =>
            JsonFlattener.flattenEvent(norm, cfg.separator) match {
              case Left(e) => err = Some(e)
              case Right(rows) =>
                // partition-value validation per flattened event (reference
                // runs it inside flatten, flatten.rs:107-220)
                val bad = rows.iterator.map { r =>
                  JsonFlattener
                    .validateCustomPartitions(r, cfg.customPartitions)
                    .flatMap { _ =>
                      cfg.timePartition match {
                        case Some(tp) => JsonFlattener
                          .validateTimePartition(r, tp, java.time.Instant.now())
                        case None => Right(())
                      }
                    }
                }.collectFirst { case Left(e) => e }
                bad match {
                  case Some(e) => err = Some(e)
                  case None    => out ++= rows
                }
            }
        }
      }
      err.toLeft(out.result())
    }
  }

  /** Convert flat JSON objects to Rows under `schema` (missing → null). */
  def toRows(events: Seq[ObjectNode], schema: StructType): Seq[Row] =
    events.map { ev =>
      Row.fromSeq(schema.fields.toSeq.map { f =>
        val v = ev.get(f.name)
        if (v == null || v.isNull) null else cast(v, f.dataType)
      })
    }

  private def cast(v: JsonNode, dt: DataType): Any = dt match {
    case BooleanType   => v.asBoolean()
    case DoubleType    => v.asDouble()
    case LongType      => v.asLong()
    case TimestampType =>
      java.sql.Timestamp.from(
        java.time.ZonedDateTime
          .parse(v.asText, java.time.format.DateTimeFormatter.ISO_DATE_TIME)
          .toInstant)
    case TimestampNTZType => parseNaive(v.asText)
    case DateType => java.time.LocalDate.parse(v.asText)
    case StringType =>
      if (v.isTextual) v.asText else v.toString
    case ArrayType(et, _) =>
      v.elements().asScala.toSeq.map(e => if (e.isNull) null else cast(e, et))
    case _ => v.toString
  }

  /** Naive (zone-less) timestamp for TIMESTAMP_NTZ columns: zone-stamped
    * inputs normalize to their UTC wall clock, bare ones are taken as-is.
    */
  private def parseNaive(s: String): java.time.LocalDateTime =
    try java.time.ZonedDateTime
      .parse(s, java.time.format.DateTimeFormatter.ISO_DATE_TIME)
      .withZoneSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime
    catch { case _: java.time.format.DateTimeParseException =>
      java.time.LocalDateTime.parse(s) }

  /** Schema-first validation for static streams: every field must exist in
    * the declared schema and the JSON value must be of the declared KIND —
    * [[toRows]]' Jackson `asLong`/`asDouble` would otherwise silently
    * coerce a mistyped value to 0 instead of refusing the event.
    * Returns the first violation, if any.
    */
  private[graft] def validateAgainstStatic(ev: ObjectNode,
      fixed: StructType): Option[String] = {
    def kindOk(v: JsonNode, dt: DataType): Boolean = dt match {
      case LongType => v.isIntegralNumber
      case DoubleType => v.isNumber
      case BooleanType => v.isBoolean
      case StringType => v.isTextual
      case TimestampNTZType | TimestampType | DateType =>
        v.isTextual && (try { cast(v, dt); true }
          catch { case _: RuntimeException => false })
      case ArrayType(et, _) =>
        v.isArray && v.elements().asScala.forall(e => e.isNull || kindOk(e, et))
      case _ => false
    }
    ev.properties().asScala.iterator.flatMap { e =>
      fixed.fields.find(_.name == e.getKey) match {
        case None => Some(s"field ${e.getKey} not in static schema")
        case Some(f) if !e.getValue.isNull && !kindOk(e.getValue, f.dataType) =>
          Some(s"field ${e.getKey} does not match the declared " +
            s"${f.dataType.simpleString} type")
        case _ => None
      }
    }.nextOption()
  }

  /** Ingest one JSON payload into the stream: returns the enriched
    * DataFrame (with `p_*` columns) ready to append, evaluated once on the
    * driver (see [[ingestEvents]]).
    */
  def ingest(
      spark: SparkSession,
      registry: SchemaRegistry,
      cfg: StreamConfig,
      json: String,
      userAgent: String = "",
      srcIp: String = "",
      format: String = "json",
      customFields: Map[String, String] = Map.empty)
      : Either[String, DataFrame] =
    prepare(json, cfg).flatMap(raw =>
      ingestEvents(spark, registry, cfg, raw, userAgent, srcIp, format,
        customFields))

  /** Ingest pre-flattened events (the OTel/Kinesis path — source-specific
    * flatteners run first, then the same rename/merge/enrich pipeline;
    * reference `flatten_and_push_logs`, ingest_utils.rs:196-282).
    *
    * The batch is evaluated once, on the driver, with no Spark job: the
    * returned frame is local data holding the enriched rows, so the count
    * ([[rowCount]]), the written rows and the live-tail fan-out all see
    * the same rows — `p_timestamp` included (`current_timestamp()` would
    * otherwise be re-evaluated by every action on the frame).
    */
  def ingestEvents(
      spark: SparkSession,
      registry: SchemaRegistry,
      cfg: StreamConfig,
      events0: Seq[ObjectNode],
      userAgent: String = "",
      srcIp: String = "",
      format: String = "json",
      customFields: Map[String, String] = Map.empty)
      : Either[String, DataFrame] = {
    for {
      raw <- Right(events0)
      // STATIC streams are schema-first (reference static_schema_flag:
      // events parse against the declared schema — json.rs
      // `into_recordbatch`): no inference, no conflict renames; an unknown
      // field or a value of the wrong kind refuses the batch. DYNAMIC
      // streams run per-record conflict renaming against the accumulated
      // (stream ∪ batch-so-far) schema — mixed-type batches rename from
      // the second record onward (reference
      // rename_per_record_type_mismatches, mod.rs:607-696).
      renamed <- cfg.staticSchema match {
        case Some(fixed) =>
          raw.iterator.map(ev => validateAgainstStatic(ev, fixed))
            .collectFirst { case Some(e) => e }
            .toLeft((raw, fixed))
        case None =>
          var acc = registry.get(cfg.name).getOrElse(new StructType())
          var err: Option[String] = None
          val out = Seq.newBuilder[ObjectNode]
          val it = raw.iterator
          while (err.isEmpty && it.hasNext) {
            val r = SchemaInference.renameConflicts(it.next(), acc)
            SchemaInference.tryMerge(acc, SchemaInference.inferSchema(r)) match {
              case Left(e)  => err = Some(e)
              case Right(m) => acc = m; out += r
            }
          }
          err.toLeft((out.result(), acc))
      }
      (events, batchSchema) = renamed
      merged <- registry.commit(cfg.name, batchSchema)
    } yield {
      val rows = toRows(events, merged)
      val base = spark
        .createDataFrame(rows.asJava, merged)
        .withColumn("p_timestamp", current_timestamp())
        .withColumn("p_user_agent", lit(userAgent))
        .withColumn("p_src_ip", lit(srcIp))
        .withColumn("p_format", lit(format))
      // request-level custom fields (reference `x-p-*` headers →
      // add_parseable_fields, utils/arrow/mod.rs:99-146): server-stamped
      // string columns in sorted key order; an event field of the same
      // name WINS (duplicates skipped, like the reference)
      val enriched =
        customFields.toSeq.sortBy(_._1).foldLeft(base) { case (d, (k, v)) =>
          if (d.columns.contains(k)) d else d.withColumn(k, lit(v))
        }
      // a projection of local rows collects on the driver (no job)
      spark.createDataFrame(enriched.collect().toSeq.asJava, enriched.schema)
    }
  }

  /** Rows of a batch from [[ingest]]/[[ingestEvents]], read from its local
    * data on the driver (no job); any other frame is counted by Spark.
    */
  def rowCount(df: DataFrame): Long = ColumnBridge.logicalPlan(df) match {
    case l: LocalRelation => l.data.size.toLong
    case _                => df.count()
  }

  /** Append an enriched batch to the stream's parquet table, Hive-partitioned
    * by minute (reference prefix scheme `date=/hour=/minute=`,
    * `src/utils/time.rs:215-229`). Partition columns are derived, never
    * stored in the row payload.
    *
    * A batch whose plan is local data (every batch from [[ingestEvents]])
    * is written by one task: one file per partition dir, as the reference
    * writes one file per stream-minute. Spark would otherwise split it
    * over min(rows, defaultParallelism) tasks, each writing its own file.
    */
  def append(df: DataFrame, root: String, cfg: StreamConfig): Unit = {
    val timeCol = cfg.timePartition.map(col).getOrElse(col("p_timestamp"))
    val dated = df
      .withColumn("date", date_format(timeCol, "yyyy-MM-dd"))
      .withColumn("hour", date_format(timeCol, "HH"))
      .withColumn("minute", date_format(timeCol, "mm"))
    val laid = cfg.zOrder match {
      // Z-ORDER layout policy: one range shuffle on the Morton value +
      // per-task sort — the same cost shape as the reverse-time sort it
      // replaces, but per-file stats come out tight on EVERY clustered
      // dimension (the pruning payoff is in ZOrderIngestSpec). Write
      // tasks hold z-ranges, so each minute dir's files correspond to
      // z-range slices. A batch missing a dim (schema drift: events
      // written before the column existed) falls back to the time sort —
      // drift must not refuse ingest, the files are just unclustered
      // until compaction re-lays them out. The range count is always
      // explicit: left to Spark, AQE coalesces a small batch's ranges into
      // one, a single file whose stats span every dimension.
      case Some(p) if p.dims.forall(df.columns.contains) =>
        graft.operators.ZOrder.zOrderBy(dated, p.dims, p.bits,
          if (p.numFiles > 0) p.numFiles
          else df.sparkSession.sessionState.conf.numShufflePartitions)
      // latest-first physical order inside every written file (reference
      // writes parquet sorted p_timestamp DESC, streams.rs:705-780) — raw
      // log listings then read newest rows first and row-group time stats
      // stay tight for pruning
      case _ =>
        val local = ColumnBridge.optimizedPlan(df).isInstanceOf[LocalRelation]
        (if (local) dated.coalesce(1) else dated)
          .sortWithinPartitions(timeCol.desc)
    }
    laid.write
      .mode("append")
      .partitionBy(Seq("date", "hour", "minute") ++ cfg.customPartitions: _*)
      .parquet(s"$root/${cfg.name}")
  }
}
