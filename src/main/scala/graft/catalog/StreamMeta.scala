package graft.catalog

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types.{DataType, StructType}

import graft.engine.SmallFiles
import graft.ingest.IngestPipeline.StreamConfig

/** Per-stream persisted metadata — the engine's `.stream.json` (reference
  * `ObjectStoreFormat`, `src/storage/mod.rs:302-340`; file layout constants
  * `:301-310`): schema version, partition config, retention, plus the
  * merged schema (the reference keeps `.schema` as a sibling file — we
  * inline it, since Spark's `StructType.json` is self-describing).
  *
  * Stored under `<root>/<stream>/.stream/stream.json`. The dotted directory
  * keeps metadata out of parquet partition discovery.
  */
object StreamMeta {

  val Version = "v1"

  final case class Retention(action: String, days: Int) // action: "delete"

  final case class Meta(
      version: String,
      stream: String,
      schemaVersion: String,
      timePartition: Option[String],
      customPartitions: Seq[String],
      retention: Option[Retention],
      schema: Option[StructType],
      // opt-in Z-order layout policy (dims, bits) — see
      // [[graft.ingest.IngestPipeline.ZOrderPolicy]]
      zOrder: Option[(Seq[String], Int)] = None,
      // reference X-P-Time-Partition-Limit ("90d") — durable so a limit
      // set over HTTP survives a restart (GET .../info reports it)
      timePartitionLimitDays: Option[Int] = None,
      // reference static_schema_flag: `schema` is the declared schema
      // every event must fit, and it stays fixed across restarts
      staticSchemaFlag: Boolean = false)

  private val mapper = new ObjectMapper()

  private def metaPath(root: String, stream: String) =
    Paths.get(root, stream, ".stream", "stream.json")

  // stream.json has two writers (the HTTP lifecycle and the streaming
  // ingest job's per-batch save) — every load-then-save must run under
  // the stream's lock or concurrent updates interleave and one facet's
  // write silently drops another's
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Object]()

  /** Run `body` while holding `stream`'s metadata lock — the required
    * wrapper for any read-modify-write of stream.json.
    */
  def locked[A](root: String, stream: String)(body: => A): A = {
    val lock = locks.computeIfAbsent((root, stream), _ => new Object)
    lock.synchronized(body)
  }

  /** Save `meta`, preserving any HTTP-writable facet the caller's value
    * does not carry (keep-if-absent): zOrder, customPartitions,
    * timePartitionLimitDays, retention and the static-schema flag all
    * survive a save from a writer that never knew about them. This is
    * the streaming ingest path's per-batch save — a job whose captured
    * config HAS a facet is actively laying batches out with it, so its
    * value wins truthfully; a job without one must not clobber a policy
    * set over HTTP between batches. Atomic against concurrent HTTP
    * updates via [[locked]].
    */
  def mergeSave(root: String, meta: Meta): Unit =
    locked(root, meta.stream) {
      val existing = load(root, meta.stream)
      def keep[A](mine: Option[A], theirs: Meta => Option[A]): Option[A] =
        mine.orElse(existing.flatMap(theirs))
      save(root, meta.copy(
        zOrder = keep(meta.zOrder, _.zOrder),
        customPartitions =
          if (meta.customPartitions.nonEmpty) meta.customPartitions
          else existing.map(_.customPartitions).getOrElse(Nil),
        timePartitionLimitDays =
          keep(meta.timePartitionLimitDays, _.timePartitionLimitDays),
        retention = keep(meta.retention, _.retention),
        staticSchemaFlag =
          meta.staticSchemaFlag || existing.exists(_.staticSchemaFlag)))
    }

  def save(root: String, meta: Meta): Unit = {
    val o = mapper.createObjectNode()
    o.put("version", meta.version)
    o.put("stream", meta.stream)
    o.put("schema_version", meta.schemaVersion)
    meta.timePartition.foreach(o.put("time_partition", _))
    val parts = o.putArray("custom_partitions")
    meta.customPartitions.foreach(parts.add)
    meta.retention.foreach { r =>
      val ro = o.putObject("retention")
      ro.put("action", r.action)
      ro.put("days", r.days)
    }
    meta.zOrder.foreach { case (dims, bits) =>
      val zo = o.putObject("z_order")
      val a = zo.putArray("dims")
      dims.foreach(a.add)
      zo.put("bits", bits)
    }
    meta.timePartitionLimitDays.foreach(
      o.put("time_partition_limit_days", _))
    if (meta.staticSchemaFlag) o.put("static_schema_flag", true)
    meta.schema.foreach(s => o.put("schema", s.json))
    // replaced atomically: every `/query` reads this file while the
    // ingest job rewrites it per micro-batch
    SmallFiles.publishLocal(metaPath(root, meta.stream),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o))
  }

  /** The queryable union schema: the persisted merged ingest schema plus the
    * engine-added `p_*` columns ([[graft.ingest.IngestPipeline]] enrichment).
    * Passing this to `spark.read.schema` makes every scan see the full
    * column set without `mergeSchema=true` (which opens every footer —
    * prohibitive at 100 TB); files written before a schema-growing batch
    * null-fill the newer columns.
    */
  def unionSchema(root: String, stream: String): Option[StructType] =
    load(root, stream).flatMap(_.schema).map(enriched)

  /** Append the reserved ingest columns to a stream schema. */
  def enriched(s: StructType): StructType = {
    import org.apache.spark.sql.types.{StringType, StructField, TimestampType}
    val extra = Seq(
      StructField("p_timestamp", TimestampType),
      StructField("p_user_agent", StringType),
      StructField("p_src_ip", StringType),
      StructField("p_format", StringType))
    StructType(s.fields ++ extra.filterNot(f => s.fieldNames.contains(f.name)))
  }

  def load(root: String, stream: String): Option[Meta] = {
    val p = metaPath(root, stream)
    if (!Files.exists(p)) None
    else {
      val o = mapper.readTree(Files.readString(p)).asInstanceOf[ObjectNode]
      def opt(field: String): Option[String] =
        Option(o.get(field)).filterNot(_.isNull).map(_.asText)
      Some(Meta(
        version = o.get("version").asText,
        stream = o.get("stream").asText,
        schemaVersion = o.get("schema_version").asText,
        timePartition = opt("time_partition"),
        customPartitions = Option(o.get("custom_partitions")).toSeq
          .flatMap(a => (0 until a.size).map(a.get(_).asText)),
        retention = Option(o.get("retention")).map(r =>
          Retention(r.get("action").asText, r.get("days").asInt)),
        schema = opt("schema").map(s =>
          DataType.fromJson(s).asInstanceOf[StructType]),
        zOrder = Option(o.get("z_order")).map { z =>
          val a = z.get("dims")
          ((0 until a.size).map(a.get(_).asText),
            z.get("bits").asInt)
        },
        timePartitionLimitDays =
          Option(o.get("time_partition_limit_days")).map(_.asInt),
        staticSchemaFlag =
          Option(o.get("static_schema_flag")).exists(_.asBoolean)))
    }
  }

  /** Rehydrate a [[StreamConfig]] from persisted metadata — the restart
    * path for surfaces (GET .../info) whose in-memory config map is
    * empty in a fresh process. A static stream gets its stored schema
    * back as the static schema, so ingest keeps refusing what does not
    * fit it.
    */
  def toConfig(meta: Meta): StreamConfig =
    StreamConfig(meta.stream,
      timePartition = meta.timePartition,
      customPartitions = meta.customPartitions,
      timePartitionLimitDays = meta.timePartitionLimitDays,
      staticSchema = meta.schema.filter(_ => meta.staticSchemaFlag),
      zOrder = meta.zOrder.map { case (dims, bits) =>
        graft.ingest.IngestPipeline.ZOrderPolicy(dims, bits) })

  def fromConfig(cfg: StreamConfig, schema: Option[StructType],
                 retention: Option[Retention] = None): Meta =
    Meta(Version, cfg.name, "v1", cfg.timePartition, cfg.customPartitions,
      retention, schema, cfg.zOrder.map(p => (p.dims, p.bits)),
      cfg.timePartitionLimitDays, cfg.staticSchema.isDefined)
}
