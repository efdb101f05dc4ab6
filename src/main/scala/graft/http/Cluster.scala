package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest => JRequest, HttpResponse => JResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.engine.SmallFiles

/** Distributed-mode plumbing for the HTTP shell — the Spark-side analog of
  * the reference's ingestor/querier split (`src/handlers/http/cluster/
  * mod.rs:941-1004` cluster info, `:1125-1167` remove-node, node metadata
  * in the metastore). The Spark build keeps the reference's architecture
  * shape but not its data plane: query execution is already distributed by
  * Spark, and all state that must be shared between nodes — stream
  * metadata and the parquet tables themselves — lives under the common
  * storage `root` (the object-store role). HTTP nodes are therefore
  * stateless front doors: an INGESTOR accepts writes, a QUERIER plans
  * reads, and either can die without losing anything.
  *
  * The metastore here is the storage root itself (`<root>/_cluster/`):
  * node registrations and stream registrations are tiny JSON files, exactly
  * the reference's object-store metastore pattern — no extra coordination
  * service, works on any shared filesystem/object store.
  */
object Cluster {

  /** Node personality (reference `NodeType`). [[All]] is standalone mode —
    * every route mounted, no registration required.
    */
  sealed trait NodeRole { def name: String }
  case object Ingestor extends NodeRole { val name = "ingestor" }
  case object Querier extends NodeRole { val name = "querier" }
  case object All extends NodeRole { val name = "all" }

  /** A node's registration record (reference `NodeMetadata`). */
  final case class NodeMetadata(nodeId: String, url: String, role: String,
                                startedAtMs: Long)

  /** One row of `GET /cluster/info` (reference `ClusterInfo` —
    * `cluster/utils.rs:55-80`): registration plus a live reachability
    * probe.
    */
  final case class NodeInfo(nodeId: String, url: String, role: String,
                            reachable: Boolean, storagePath: String,
                            status: Option[String], error: Option[String])

  private val mapper = new ObjectMapper()

  /** File-based cluster metastore under `<root>/_cluster/`: one JSON file
    * per node registration and per shared stream. Writes are atomic
    * (temp + move) so concurrent nodes never read torn files.
    */
  final class MetaStore(root: String) {
    private val nodesDir = Paths.get(root, "_cluster", "nodes")
    private val streamsDir = Paths.get(root, "_cluster", "streams")

    def register(meta: NodeMetadata): Unit = {
      val o = mapper.createObjectNode()
        .put("node_id", meta.nodeId).put("url", meta.url)
        .put("role", meta.role).put("started_at_ms", meta.startedAtMs)
      SmallFiles.publishLocal(nodesDir.resolve(s"${meta.nodeId}.json"),
        mapper.writeValueAsString(o))
    }

    def deregister(nodeId: String): Boolean =
      Files.deleteIfExists(nodesDir.resolve(s"$nodeId.json"))

    def nodes(): Seq[NodeMetadata] =
      if (!Files.isDirectory(nodesDir)) Seq.empty
      else Files.list(nodesDir).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".json")).sortBy(_.getFileName.toString)
        .flatMap { p =>
          try {
            val n = mapper.readTree(Files.readAllBytes(p))
            Some(NodeMetadata(n.get("node_id").asText(),
              n.get("url").asText(), n.get("role").asText(),
              n.get("started_at_ms").asLong()))
          } catch { case _: Exception => None } // torn/foreign file: skip
        }

    /** Advertise a stream (tenant-scoped key) so OTHER nodes can resolve
      * it — the reference stores stream metadata in the shared metastore
      * for exactly this reason.
      */
    def putStream(key: String): Unit = {
      // stream keys may contain '/' (tenant scoping) — encode for a filename
      val name = java.net.URLEncoder.encode(key, UTF_8) + ".json"
      SmallFiles.publishLocal(streamsDir.resolve(name),
        mapper.writeValueAsString(mapper.createObjectNode().put("key", key)))
    }

    def streams(): Seq[String] =
      if (!Files.isDirectory(streamsDir)) Seq.empty
      else Files.list(streamsDir).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".json")).sortBy(_.getFileName.toString)
        .flatMap { p =>
          try Some(mapper.readTree(Files.readAllBytes(p)).get("key").asText())
          catch { case _: Exception => None }
        }

    def removeStream(key: String): Boolean =
      Files.deleteIfExists(streamsDir.resolve(
        java.net.URLEncoder.encode(key, UTF_8) + ".json"))
  }

  /** Real liveness probe (reference `check_liveness`): GET the node's
    * `/api/v1/liveness` with a short timeout.
    */
  def checkLiveness(url: String, http: HttpClient): Boolean =
    try {
      val req = JRequest.newBuilder(URI.create(s"$url/api/v1/liveness"))
        .timeout(java.time.Duration.ofSeconds(2)).GET().build()
      http.send(req, JResponse.BodyHandlers.discarding()).statusCode() == 200
    } catch { case _: Exception => false }

  /** Fan out liveness probes over every registered node (reference
    * `get_cluster_info` + `fetch_nodes_info`).
    */
  def clusterInfo(store: MetaStore, root: String,
                  http: HttpClient): Seq[NodeInfo] =
    store.nodes().map { m =>
      val alive = checkLiveness(m.url, http)
      NodeInfo(m.nodeId, m.url, m.role, reachable = alive,
        storagePath = root,
        status = if (alive) Some("alive") else None,
        error = if (alive) None else Some("not reachable"))
    }

  /** Remove a dead node's registration; refuses while the node still
    * answers its liveness probe (reference `remove_node`).
    */
  def removeNode(store: MetaStore, nodeId: String,
                 http: HttpClient): Either[String, Boolean] =
    store.nodes().find(_.nodeId == nodeId) match {
      case None => Right(false)
      case Some(m) =>
        if (checkLiveness(m.url, http))
          Left("node is currently live and cannot be removed")
        else Right(store.deregister(nodeId))
    }
}
