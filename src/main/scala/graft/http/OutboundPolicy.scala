package graft.http

import java.net.{InetAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.engine.SmallFiles

/** Outbound-HTTP policy for alert targets — the reference's SSRF guard
  * (`src/alerts/outbound_http_policy.rs`): an admin-set, per-tenant config
  * of allowed/denied domains and CIDRs that alert-target endpoints are
  * validated against at create/update time. Private/loopback/link-local
  * destinations need `allowPrivate` AND an explicit allowlist match;
  * denied entries always win; `skipTlsCheck` on a target needs
  * `allowInvalidTls`; Slack targets are pinned to Slack-owned hosts.
  *
  * Divergence from the reference, on purpose: enforcement applies only
  * once a policy has been PUT for the tenant. The reference's
  * locked-down default (private targets refused out of the box) suits a
  * public server; a library embedding keeps working until an operator
  * opts into a policy. Validation (conflicting allow/deny lists) matches
  * the reference either way.
  */
object OutboundPolicy {

  final case class Config(
      allowPrivate: Boolean = false,
      allowedDomains: Seq[String] = Nil,
      allowedCidrs: Seq[String] = Nil,
      deniedDomains: Seq[String] = Nil,
      deniedCidrs: Seq[String] = Nil,
      allowInvalidTls: Boolean = false)

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------- codec

  def toJson(c: Config): String = {
    val o = mapper.createObjectNode()
    o.put("allow_private", c.allowPrivate)
    Seq("allowed_domains" -> c.allowedDomains,
      "allowed_cidrs" -> c.allowedCidrs,
      "denied_domains" -> c.deniedDomains,
      "denied_cidrs" -> c.deniedCidrs).foreach { case (k, vs) =>
      val arr = o.putArray(k); vs.foreach(arr.add)
    }
    o.put("allow_invalid_tls", c.allowInvalidTls)
    mapper.writeValueAsString(o)
  }

  def fromJson(node: JsonNode): Config = {
    def list(k: String): Seq[String] =
      Option(node.get(k)).toSeq.flatMap(_.elements().asScala.map(_.asText()))
    Config(
      allowPrivate = node.path("allow_private").asBoolean(false),
      allowedDomains = list("allowed_domains"),
      allowedCidrs = list("allowed_cidrs"),
      deniedDomains = list("denied_domains"),
      deniedCidrs = list("denied_cidrs"),
      allowInvalidTls = node.path("allow_invalid_tls").asBoolean(false))
  }

  // ------------------------------------------------------------ validate

  /** Reference `validate_policy`: CIDRs must parse; allow and deny lists
    * must not overlap (a CIDR contained in the other, a domain equal to
    * or a subdomain of the other).
    */
  def validate(c: Config): Either[String, Unit] =
    for {
      allowed <- parseCidrs(c.allowedCidrs)
      denied <- parseCidrs(c.deniedCidrs)
      _ <- allowed.find(a => denied.exists(d => cidrsOverlap(a, d)))
        .map(a => s"allow and deny CIDR lists conflict on: ${a._3}")
        .toLeft(())
      _ <- c.allowedDomains.find(a =>
          c.deniedDomains.exists(d => domainsOverlap(a, d)))
        .map(a => s"allow and deny domain lists conflict on: " +
          normalizeDomain(a)).toLeft(())
    } yield ()

  /** Validate a target endpoint against the policy (reference
    * `prepare_alert_target` minus the pinned-DNS client construction —
    * the JDK client has no resolve-override; creation-time validation is
    * the gate here).
    */
  def checkEndpoint(endpoint: String, kind: String, skipTls: Boolean,
                    c: Config): Either[String, Unit] = {
    val uri =
      try new URI(endpoint)
      catch { case _: Exception => return Left(s"invalid URL: $endpoint") }
    val scheme = Option(uri.getScheme).getOrElse("").toLowerCase
    if (scheme != "http" && scheme != "https")
      return Left(s"unsupported URL scheme:$scheme")
    if (kind == "slack" && scheme != "https")
      return Left("Slack alert target must use HTTPS")
    if (skipTls && !c.allowInvalidTls)
      return Left("skipTlsCheck is disabled by server policy")
    val host = Option(uri.getHost).getOrElse("")
    if (host.isEmpty) return Left("missing URL host")
    if (matchesDomainList(host, c.deniedDomains))
      return Left(s"target domain is denied by outbound policy: $host")
    if (kind == "slack" && host != "hooks.slack.com" &&
        host != "hooks.slack-gov.com")
      return Left(s"invalid slack host: $host")
    val addrs =
      try InetAddress.getAllByName(host).toSeq
      catch {
        case e: Exception =>
          return Left(s"failed to resolve target host $host :${e.getMessage}")
      }
    if (addrs.isEmpty) return Left(s"target host resolved to no address: $host")
    parseCidrs(c.deniedCidrs).flatMap { denied =>
      parseCidrs(c.allowedCidrs).flatMap { allowed =>
        val allowlisted = matchesDomainList(host, c.allowedDomains) ||
          addrs.exists(a => allowed.exists(cidrContains(_, a)))
        // fail closed over EVERY resolved address (multi-A DNS)
        addrs.foldLeft[Either[String, Unit]](Right(())) { (acc, ip) =>
          acc.flatMap { _ =>
            if (denied.exists(cidrContains(_, ip)))
              Left(s"target address is denied by outbound policy: " +
                ip.getHostAddress)
            else if (builtinDenied(ip) && !(c.allowPrivate && allowlisted))
              Left("private target requires allowPrivate=true and an " +
                s"allowlist match:${ip.getHostAddress}")
            else Right(())
          }
        }
      }
    }
  }

  // ------------------------------------------------------- address logic

  /** Loopback, RFC1918/ULA, link-local, unspecified — the reference's
    * `builtin_denied_ip`.
    */
  private def builtinDenied(ip: InetAddress): Boolean =
    ip.isLoopbackAddress || ip.isSiteLocalAddress ||
      ip.isLinkLocalAddress || ip.isAnyLocalAddress ||
      (ip.getAddress.length == 16 &&
        (ip.getAddress()(0) & 0xfe) == 0xfc) // IPv6 ULA fc00::/7

  private type Cidr = (Array[Byte], Int, String) // network bytes, prefix, text

  private def parseCidrs(vs: Seq[String]): Either[String, Seq[Cidr]] =
    vs.foldLeft[Either[String, Seq[Cidr]]](Right(Nil)) { (acc, v) =>
      acc.flatMap { seq =>
        v.split("/", 2) match {
          case Array(addr, len) =>
            try {
              val bytes = InetAddress.getByName(addr).getAddress
              val p = len.toInt
              if (p < 0 || p > bytes.length * 8)
                Left(s"invalid outbound policy CIDR$v: bad prefix")
              else Right(seq :+ ((bytes, p, v)))
            } catch {
              case _: Exception => Left(s"invalid outbound policy CIDR$v")
            }
          case _ => Left(s"invalid outbound policy CIDR$v: missing prefix")
        }
      }
    }

  private def cidrContains(c: Cidr, ip: InetAddress): Boolean = {
    val (net, prefix, _) = c
    val b = ip.getAddress
    b.length == net.length && prefixMatches(net, b, prefix)
  }

  private def prefixMatches(a: Array[Byte], b: Array[Byte], bits: Int): Boolean = {
    val full = bits / 8
    val rem = bits % 8
    (0 until full).forall(i => a(i) == b(i)) &&
      (rem == 0 || {
        val mask = (0xff << (8 - rem)) & 0xff
        (a(full) & mask) == (b(full) & mask)
      })
  }

  private def cidrsOverlap(a: Cidr, b: Cidr): Boolean = {
    val bits = math.min(a._2, b._2)
    a._1.length == b._1.length && prefixMatches(a._1, b._1, bits)
  }

  private def normalizeDomain(d: String): String =
    d.stripSuffix(".").toLowerCase

  private def domainsOverlap(a: String, b: String): Boolean = {
    val l = normalizeDomain(a); val r = normalizeDomain(b)
    matchesOrSubdomain(l, r) || matchesOrSubdomain(r, l)
  }

  private def matchesOrSubdomain(candidate: String, parent: String): Boolean =
    candidate == parent ||
      (candidate.endsWith(parent) &&
        candidate.charAt(candidate.length - parent.length - 1) == '.')

  private def matchesDomainList(host: String, list: Seq[String]): Boolean = {
    val h = normalizeDomain(host)
    list.exists(d => matchesOrSubdomain(h, normalizeDomain(d)))
  }

  // ---------------------------------------------------------- persistence

  private def policyPath(root: String, tenant: String): Path =
    Paths.get(root, ".alerts", "policy", s"$tenant.json")

  /** Active policy for a tenant; None = no policy set → no enforcement. */
  def load(root: String, tenant: String): Option[Config] = {
    val p = policyPath(root, tenant)
    if (!Files.isRegularFile(p)) None
    else
      try Some(fromJson(mapper.readTree(Files.readString(p, UTF_8))))
      catch { case _: Exception => None }
  }

  def store(root: String, tenant: String, c: Config): Unit = {
    SmallFiles.publishLocal(policyPath(root, tenant), toJson(c))
  }
}
