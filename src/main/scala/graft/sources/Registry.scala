package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Package-registry enrichment — the reference's per-element HTTP GET to
  * the npm registry (`NpmPackage.scala:8-22`) re-expressed for a
  * distributed engine.
  *
  * Two paths:
  *  1. `enrichWithClient`: a [[RegistryClient]] per partition
  *     (connection-per-partition, not per-row). This models the online
  *     fetch; the container has zero egress, so the only shipped client
  *     is the deterministic [[LocalRegistry]] fake — the HTTP client is
  *     intentionally not implemented here.
  *  2. `parseMetadata`: given a snapshot table of raw registry JSON
  *     (name, body), parse it declaratively with `from_json`. This is the
  *     100 TB path: registries are mirrored as bulk snapshots and joined,
  *     not fetched row-by-row.
  */
trait RegistryClient extends Serializable {
  /** Raw registry JSON for a package name, None when missing. */
  def fetch(name: String): Option[String]
}

/** Zero-egress deterministic registry snapshot held in a broadcastable map. */
final class LocalRegistry(snapshot: Map[String, String]) extends RegistryClient {
  override def fetch(name: String): Option[String] = snapshot.get(name)
}

/** Live HTTP registry client — the production implementation of the
  * reference's per-package fetch (`NpmPackage.scala:8-11`:
  * `requests.get("https://registry.npmjs.org/" + name)`, proceed only on
  * status 200). Built on JDK `java.net.http` (no extra dependency).
  *
  * Error contract matches the reference: non-200 → None, and any
  * transport/encoding failure is caught and skipped (the reference wraps
  * its parse loop in catch-and-continue) — a flaky registry mirror must
  * never fail a 100 TB job for one package.
  *
  * The client itself is `@transient lazy`: what ships to executors is
  * only the config strings; each executor (partition) builds one pooled
  * HTTP client on first use — connection-per-partition, never per-row.
  * The raw-name URL concat mirrors the reference; npm accepts scoped
  * names (`@scope/pkg`) with the literal slash.
  */
class HttpRegistry(baseUrl: String = "https://registry.npmjs.org",
                   connectTimeoutMs: Long = 5000,
                   requestTimeoutMs: Long = 30000) extends RegistryClient {

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()

  /** One GET; returns (statusCode, body). Overridden in tests to fake
    * the transport without a network.
    */
  protected def send(uri: java.net.URI): (Int, String) = {
    val req = java.net.http.HttpRequest.newBuilder(uri)
      .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
      .header("Accept", "application/json")
      .GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  override def fetch(name: String): Option[String] =
    try {
      val (code, body) = send(java.net.URI.create(s"$baseUrl/$name"))
      if (code == 200) Some(body) else None
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** Deterministic stand-in for the live HTTP registry (this container has
  * zero egress): synthesizes a registry document per name from a hash of
  * the name, with a fixed fraction of misses for 404 parity
  * (NpmPackage.scala:9-11 only proceeds on statusCode 200).
  * Swap for [[HttpRegistry]] on a networked cluster.
  */
final class SyntheticRegistry extends RegistryClient {
  override def fetch(name: String): Option[String] = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashUnsafeBytes2(name.getBytes("UTF-8"),
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        name.length, 42).toLong & 0x7fffffffL
    if (h % 20 == 0) None // "404"
    else {
      val versions = (0 to (h % 3).toInt).map { i =>
        val deps = (0 until ((h + i) % 4).toInt)
          .map(j => s""""dep-$j":"^$j.0.0"""").mkString(",")
        val devs = (0 until ((h + i) % 3).toInt)
          .map(j => s""""devdep-$j":"*"""").mkString(",")
        s""""1.$i.0":{"name":"$name","dependencies":{$deps},"devDependencies":{$devs}}"""
      }.mkString(",")
      Some(s"""{"name":"$name","versions":{$versions}}""")
    }
  }
}

object Registry {

  /** Config-gated client selection: `graft.registry.mode` = `synthetic`
    * (default — deterministic, zero egress, what every test and this
    * container use) or `http` (the live registry;
    * `graft.registry.url` overrides the endpoint, e.g. an internal
    * mirror). Keeps the online path one config flip away without making
    * any test depend on the network.
    */
  def clientFromConf(spark: SparkSession): RegistryClient =
    spark.conf.get("graft.registry.mode", "synthetic") match {
      case "http" => new HttpRegistry(
        spark.conf.get("graft.registry.url", "https://registry.npmjs.org"))
      case _ => new SyntheticRegistry
    }

  /** Schema of a (trimmed) npm registry document: versions →
    * {name, dependencies, devDependencies}. (Reference parse:
    * Version.scala — dependency map keys are what get counted.)
    */
  val metadataSchema: String =
    "STRUCT<name: STRING, versions: MAP<STRING, STRUCT<" +
      "name: STRING, " +
      "dependencies: MAP<STRING, STRING>, " +
      "devDependencies: MAP<STRING, STRING>>>>"

  /** Parse raw registry JSON bodies into typed metadata. */
  def parseMetadata(raw: DataFrame, bodyCol: String = "body"): DataFrame =
    raw.withColumn("meta",
      from_json(col(bodyCol), org.apache.spark.sql.types.DataType.fromDDL(metadataSchema)))

  /** The bulk path: join package names against a mirrored registry
    * snapshot table (`name`, `body`). The snapshot side is broadcast when
    * it fits, otherwise it's a plain shuffled equi-join — either way no
    * per-row network I/O, which is the only sane shape at 100 TB.
    */
  def enrichFromSnapshot(names: DataFrame, snapshot: DataFrame,
                         nameCol: String = "line"): DataFrame =
    parseMetadata(
      names.select(col(nameCol).as("name"))
        .join(snapshot, "name"))

  /** Enrich a `line`/`name` DataFrame of package names through a client,
    * one client per partition (the Spark analog of a pooled connection).
    * Blank names are skipped: they name no package (an HTTP client would
    * GET the registry root), and skipping them here keeps a stream over a
    * raw line source equal to the batch form over `GzipLines.read`.
    */
  def enrichWithClient(names: DataFrame, client: RegistryClient,
                       nameCol: String = "line"): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._
    val fetched = names.select(col(nameCol).as("name")).as[String]
      .mapPartitions { it =>
        // client is constructed/deserialized once per partition
        it.filter(n => n != null && !n.isBlank)
          .flatMap(n => client.fetch(n).map(body => (n, body)))
      }
      .toDF("name", "body")
    parseMetadata(fetched)
  }
}
