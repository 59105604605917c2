package graft

import graft.operators.NpmPipeline
import graft.sources.{HttpRegistry, LocalRegistry, Registry, SyntheticRegistry}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HttpRegistry with the transport faked out — exercises the real URL
  * construction, status handling, and error contract without a network.
  * Top-level class so executor serialization ships no spec instance.
  */
class FakeHttpRegistry(bodies: Map[String, String])
    extends HttpRegistry("https://registry.example.test") {
  override protected def send(uri: java.net.URI): (Int, String) = {
    assert(uri.toString.startsWith("https://registry.example.test/"))
    val name = uri.toString.stripPrefix("https://registry.example.test/")
    if (name == "broken-transport") throw new java.io.IOException("boom")
    bodies.get(name).map((200, _)).getOrElse((404, """{"error":"Not found"}"""))
  }
}

/** Reference-parity check: same input → same (package, version,
  * dependencies, devDependencies) counts as the reference pipeline
  * (Main.scala flowDependencies + AccumulatedDependencyCount).
  */
class NpmPipelineSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  // Trimmed registry documents in the npm registry shape the reference
  // parses (NpmPackage.scala:10-18, Version.scala).
  private val bodies = Map(
    "left-pad" ->
      """{"name":"left-pad","versions":{
        |"1.0.0":{"name":"left-pad","dependencies":{"a":"^1.0.0","b":"~2.0.0"}},
        |"1.1.0":{"name":"left-pad","dependencies":{"a":"^1.0.0"},
        |         "devDependencies":{"mocha":"*","chai":"*","sinon":"*"}}}}""".stripMargin,
    "tiny" ->
      """{"name":"tiny","versions":{"0.1.0":{"name":"tiny"}}}""".stripMargin)
  private def registryBody(name: String): String = bodies(name)
  private val registry = new LocalRegistry(bodies)

  test("dependencyCounts matches the reference's runtime/dev counting") {
    val names = Seq("left-pad", "tiny", "missing-pkg").toDF("line")
    val parsed = Registry.enrichWithClient(names, registry)
    val counts = NpmPipeline.dependencyCounts(parsed)
      .orderBy("package", "version")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(counts.toSeq === Seq(
      ("left-pad", "1.0.0", 2, 0),
      ("left-pad", "1.1.0", 1, 3),
      ("tiny", "0.1.0", 0, 0)))
  }

  test("accumulate builds the nested package→version map; prettyLines formats it") {
    val names = Seq("left-pad", "tiny").toDF("line")
    val acc = NpmPipeline.accumulate(
      NpmPipeline.dependencyCounts(Registry.enrichWithClient(names, registry)))
    assert(acc.count() === 2L)
    val leftPad = acc.filter(col("package") === "left-pad")
      .select(map_keys(col("versions"))).collect().head.getSeq[String](0).sorted
    assert(leftPad === Seq("1.0.0", "1.1.0"))

    val lines = NpmPipeline.prettyLines(acc).select("line").as[String].collect()
    assert(lines.contains("version: 1.1.0, Dependencies: 1, DevDependencies: 3"))
  }

  test("reverseDependencyCounts: distinct dependents per dependency") {
    val names = Seq("left-pad", "tiny").toDF("line")
    val rev = NpmPipeline.reverseDependencyCounts(
      Registry.enrichWithClient(names, registry))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // 'a' appears in both left-pad versions but counts once; 'b' in one
    assert(rev === Map("a" -> 1L, "b" -> 1L))
  }

  test("malformed registry bodies are skipped, not fatal (reference parity)") {
    val broken = new LocalRegistry(Map(
      "good" -> """{"name":"good","versions":{"1.0.0":{"name":"good","dependencies":{"x":"*"}}}}""",
      "garbage" -> """{{{not json""",
      "empty-obj" -> """{}"""))
    val counts = NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(Seq("good", "garbage", "empty-obj").toDF("line"), broken))
      .collect()
    assert(counts.map(_.getString(0)).toSeq === Seq("good"))
    assert(counts.head.getInt(2) === 1)
  }

  test("snapshot enrichment (bulk join path) equals the client path") {
    val snapshot = Seq(
      ("left-pad", registryBody("left-pad")),
      ("tiny", registryBody("tiny")),
      ("unrequested", """{"name":"unrequested","versions":{}}""")).toDF("name", "body")
    val names = Seq("left-pad", "tiny", "missing").toDF("line")
    val viaSnapshot = NpmPipeline.dependencyCounts(Registry.enrichFromSnapshot(names, snapshot))
    val viaClient = NpmPipeline.dependencyCounts(Registry.enrichWithClient(names, registry))
    assert(viaSnapshot.count() === 3L)
    assert(viaSnapshot.exceptAll(viaClient).count() === 0L)
  }

  test("reads the reference's packages.txt.gz input format") {
    val p = Fixtures.packages
    val names = graft.sources.GzipLines.read(spark, p)
    assert(names.count() > 0L)
    assert(names.filter(col("line").contains(" ")).count() === 0L) // one name per line
  }

  test("streaming pipeline: throttled gz source → enrich → counts, equals batch") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_npm_stream_")
    def writeGz(name: String, content: String): Unit = {
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(dir.resolve(name)))
      out.write(content.getBytes("UTF-8")); out.close()
    }
    // two files → with maxFilesPerTrigger=1 the source is throttled to
    // two micro-batches (the reference's throttle+backpressure analog)
    writeGz("a.txt.gz", "left-pad\n")
    writeGz("b.txt.gz", "tiny\n")

    val stream = graft.sources.GzipLines.readStream(spark, dir.toString, maxFilesPerTrigger = 1)
    val counts = NpmPipeline.dependencyCounts(Registry.enrichWithClient(stream, registry))
    val q = counts.writeStream.format("memory").queryName("npm_stream_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2) // really throttled

    val streamed = spark.table("npm_stream_t")
      .select("package", "version", "dependencies", "devDependencies")
    val batch = NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(Seq("left-pad", "tiny").toDF("line"), registry))
    assert(streamed.count() === 3L)
    assert(streamed.exceptAll(batch).count() === 0L)
  }

  test("HttpRegistry: 200 → body, 404 → skip, transport failure → skip (reference NpmPackage.scala:8-22 contract)") {
    val http = new FakeHttpRegistry(bodies)
    assert(http.fetch("left-pad") === Some(bodies("left-pad")))
    assert(http.fetch("missing-pkg") === None)     // non-200 skipped
    assert(http.fetch("broken-transport") === None) // exception caught
  }

  test("HttpRegistry drives the full enrichment pipeline (executor-serialized, per-partition client)") {
    val names = Seq("left-pad", "tiny", "missing-pkg", "broken-transport").toDF("line")
    val viaHttp = NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(names, new FakeHttpRegistry(bodies)))
    val viaLocal = NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(names, registry))
    assert(viaHttp.count() === 3L)
    assert(viaHttp.exceptAll(viaLocal).count() === 0L)
    assert(viaLocal.exceptAll(viaHttp).count() === 0L)
  }

  test("clientFromConf gates the live client behind graft.registry.mode") {
    assert(Registry.clientFromConf(spark).isInstanceOf[SyntheticRegistry])
    spark.conf.set("graft.registry.mode", "http")
    spark.conf.set("graft.registry.url", "https://mirror.internal.test")
    try assert(Registry.clientFromConf(spark).isInstanceOf[HttpRegistry])
    finally {
      spark.conf.unset("graft.registry.mode")
      spark.conf.unset("graft.registry.url")
    }
  }

  test("full reference dataflow on the CUSTOM DSv2 source: gz → throttle → enrich → counts") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_npm_dsv2_")
    val f = dir.resolve("pkgs.txt.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(f))
    out.write("left-pad\ntiny\n".getBytes("UTF-8")); out.close()

    val stream = spark.readStream
      .format(classOf[graft.sources.ThrottledLinesSource].getName)
      .option("path", f.toString)
      .option("linesPerTrigger", "1") // the reference's throttle(1, 3s)
      .load()
    val counts = NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(stream, registry))
    val q = counts.writeStream.format("memory").queryName("npm_dsv2_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2) // 1 name per batch

    val streamed = spark.table("npm_dsv2_t")
      .select("package", "version", "dependencies", "devDependencies")
    val batch = NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(Seq("left-pad", "tiny").toDF("line"), registry))
    assert(streamed.count() === 3L)
    assert(streamed.exceptAll(batch).count() === 0L)
  }
}
