package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.util.LongAccumulator

import graft.SparkEntry
import graft.operators.{CorpusOps, Dedup, DedupIndex, NpmPipeline}
import graft.sources.{GzipLines, Registry, RegistryClient, SyntheticRegistry, ThrottledLinesSource}

/** The 36 short analytic queries (q01–q29 with their b/c variants, q65
  * and its bridge q65b) in rounds, each round in a fresh seeded order,
  * every query materialized in full through the `noop` sink. Its traced
  * run also measures the corpus operators (see [[CorpusLayers]]).
  */
final class InteractiveSql(r: Run) extends Workload {
  private val spark = r.spark
  private val data = r.o.data
  val keys: Seq[String] = SparkEntry.queries.keys.toSeq
    .filter(k => k.matches("q(0[1-9]|[12][0-9])[a-z]?_.*") || k.startsWith("q65"))
    .sorted

  def itemsPerRound: Double = keys.size
  def nominalRoundS: Double = 11

  /** Warm-up: a cold pass, then a sequential pass that writes the outputs
    * for the check. Rounds after these two run within a few percent of
    * each other.
    */
  def setup(): Unit = {
    coldPass()
    writeOutputs()
  }

  /** Every query once, `cores` at a time: the JIT and the codegen cache
    * warm in about half the time of a sequential cold pass.
    */
  private def coldPass(): Unit = {
    val pool = Executors.newFixedThreadPool(r.o.cores)
    try {
      val jobs = keys.map { k =>
        pool.submit(new Runnable {
          def run(): Unit =
            try r.materialize(SparkEntry.queries(k)(spark, data))
            catch { case NonFatal(e) => r.note(s"$k failed in the cold pass: ${e.getClass.getName}") }
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
  }

  def round(i: Int): Unit = {
    val order = new scala.util.Random(r.o.seed * 1000003L + i).shuffle(keys)
    order.foreach(k => r.op(k) {
      // building a DataFrame lists files, reads parquet footers and
      // analyzes every intermediate Dataset eagerly, before the write
      val df = r.tracer.timed("query.build_ms")(SparkEntry.queries(k)(spark, data))
      r.tracer.analyzed(df)
      r.materialize(df)
    })
  }

  /** Every query once, each writing its full result as parquet, plus the
    * oracle SQL, for the DuckDB check made after the run.
    */
  private def writeOutputs(): Unit = {
    val out = Paths.get(r.o.work, "out")
    keys.foreach { k =>
      r.op(k)(SparkEntry.queries(k)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(k).toString))
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracle))
  }

  override def layers(): Map[String, Double] = CorpusLayers.measure(r)
}

/** The corpus layers, each as one materialized call to its public
  * function: the word and char DedupIndex builds, MinHash-LSH pairs,
  * cluster resolution and decontamination, plus the jobs one run of q77
  * (BPE) and q89 (PageRank) schedules.
  */
object CorpusLayers {
  private def indexBytes(r: Run): Double = {
    val wh = Paths.get(java.net.URI.create(r.spark.conf.get("spark.sql.warehouse.dir")))
    val walk = Files.walk(wh)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && wh.relativize(p).toString.startsWith("graft_ddidx_"))
      .map(p => Files.size(p).toDouble).sum
    finally walk.close()
  }

  def measure(r: Run): Map[String, Double] = {
    val (spark, data, t) = (r.spark, r.o.data, r.tracer)
    val build = r.timedSeconds {
      t.span("operators.DedupIndex.ensureWord")(DedupIndex.ensureWord(spark, data))
      t.span("operators.DedupIndex.ensureChar")(DedupIndex.ensureChar(spark, data))
    }
    def seconds(name: String)(df: => DataFrame): Double =
      r.timedSeconds(t.span(name)(r.materialize(df)))
    val lsh = seconds("operators.Dedup.minhashLsh")(Dedup.minhashLsh(spark, data))
    val pairs = Dedup.minhashLsh(spark, data).localCheckpoint()
    val resolve = seconds("operators.Dedup.resolveClusters")(Dedup.resolveClusters(pairs))
    val decon = seconds("operators.CorpusOps.decontaminate")(CorpusOps.decontaminate(spark, data))
    Seq("q77_bpe_merges", "q89_pagerank")
      .foreach(k => r.op(k)(r.materialize(SparkEntry.queries(k)(spark, data))))
    Map("dedup.minhash_lsh_s" -> lsh, "dedup.resolve_clusters_s" -> resolve,
      "corpus_ops.decontaminate_s" -> decon,
      "dedup_index.build_s" -> build, "dedup_index.bytes_written" -> indexBytes(r))
  }
}

/** Counts registry fetches and hits (traced rounds only). */
final class CountingRegistry(inner: RegistryClient, fetches: LongAccumulator,
                             hits: LongAccumulator) extends RegistryClient {
  override def fetch(name: String): Option[String] = {
    fetches.add(1)
    val body = inner.fetch(name)
    if (body.isDefined) hits.add(1)
    body
  }
}

/** The reference dataflow as a stream: gz names → ThrottledLinesSource
  * (AvailableNow, fixed lines per trigger) → Registry.enrichWithClient →
  * NpmPipeline.dependencyCounts → NpmPipeline.accumulate as the stream's
  * stateful aggregation (update mode, checkpointed). One round is one pass
  * over the whole names file with a fresh checkpoint; every round's folded
  * output must equal the batch form over the same names.
  */
final class NpmStream(r: Run) extends Workload {
  private val spark = r.spark
  private val names = r.o.names
  /** With the 20k-name file, a trigger re-decodes 10k lines on average
    * (the reader skips from line 0 to its start offset), as it does at
    * 100 lines per trigger, in a tenth of the triggers per pass.
    */
  val linesPerTrigger = 1000
  /** Passes before the timed ones; the first pass after a single warm
    * pass still runs about 25% slow.
    */
  private val warmRounds = 2
  private var expected = Map.empty[String, String]
  private var lines = 0L
  private val fetches = spark.sparkContext.longAccumulator("registry.fetches")
  private val hits = spark.sparkContext.longAccumulator("registry.hits")
  private val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedRounds = 0
  /** Each round's streamed output, checked after the timed rounds. */
  private val outputs = mutable.ArrayBuffer.empty[(Int, Boolean, Seq[Row])]

  def itemsPerRound: Double = lines.toDouble
  def nominalRoundS: Double = 8

  /** package → canonical "version=deps/devDeps;..." string. */
  private def fold(rows: Iterable[Row]): Map[String, String] = rows.map { row =>
    val versions = row.getMap[String, Row](1).toSeq.sortBy(_._1)
      .map { case (v, c) => s"$v=${c.getInt(0)}/${c.getInt(1)}" }.mkString(";")
    row.getString(0) -> versions
  }.toMap

  def setup(): Unit = {
    val batch = NpmPipeline.accumulate(NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(GzipLines.read(spark, names), new SyntheticRegistry)))
    expected = fold(batch.collect())
    lines = GzipLines.read(spark, names).count()
    (1 to warmRounds).foreach(i => round(-i))
  }

  def round(i: Int): Unit = {
    val t = r.tracer
    val client: RegistryClient =
      if (t.enabled) new CountingRegistry(new SyntheticRegistry, fetches, hits)
      else new SyntheticRegistry
    val out = mutable.ArrayBuffer.empty[Row]
    val sink: (DataFrame, Long) => Unit = (df, _) => out ++= df.collect()
    val ckpt = Paths.get(r.o.work, "checkpoints", s"round$i").toString
    var runId: java.util.UUID = null
    val ok = try {
      val src = t.span("sources.ThrottledLinesSource.load") {
        spark.readStream.format(classOf[ThrottledLinesSource].getName)
          .option("path", names).option("linesPerTrigger", linesPerTrigger.toString).load()
      }
      val parsed = t.span("sources.Registry.enrichWithClient")(Registry.enrichWithClient(src, client))
      val counts = t.span("operators.NpmPipeline.dependencyCounts")(NpmPipeline.dependencyCounts(parsed))
      val acc = t.span("operators.NpmPipeline.accumulate")(NpmPipeline.accumulate(counts))
      val q = acc.writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
      runId = q.runId
      t.span("stream.awaitTermination")(q.awaitTermination())
      true
    } catch {
      case NonFatal(e) =>
        r.note(s"stream round $i failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        false
    }
    t.drain()
    val progress = if (runId == null) Nil else r.probe.take(runId)
    if (r.recording) {
      r.attempted += progress.size + (if (ok) 0 else 1)
      if (!ok) r.failed += 1
      // a failed trigger reports no progress, so every sample here completed
      r.latencies ++= progress.map(_.durationMs.get("triggerExecution").toDouble)
    }
    if (ok) outputs += ((i, r.recording, out.toSeq))
    if (t.enabled) traceRound(progress)
  }

  private def traceRound(progress: Seq[StreamingQueryProgress]): Unit = {
    val t = r.tracer
    tracedRounds += 1
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    progress.foreach { p =>
      layer("microbatch.offset_ms") += d(p, "latestOffset") + d(p, "getBatch")
      layer("microbatch.plan_ms") += d(p, "queryPlanning")
      layer("microbatch.exec_ms") += d(p, "addBatch")
      layer("microbatch.wal_commit_ms") += d(p, "walCommit")
      layer("microbatch.offset_commit_ms") += d(p, "commitOffsets")
      layer("state.commit_ms") += p.stateOperators.map(_.commitTimeMs.toDouble).sum
      val src = p.sources.head
      val start = Option(src.startOffset).map(_.trim.toDouble).getOrElse(0.0)
      val end = src.endOffset.trim.toDouble
      layer("sources.lines_admitted") += end - start
      // the reader re-scans the gz file from line 0 to the batch's end
      layer("sources.lines_decoded") += end
      // trigger span with its phases laid out in execution order
      val startMs = t.nowMs - (System.currentTimeMillis() -
        java.time.Instant.parse(p.timestamp).toEpochMilli)
      val id = t.record("microbatch", t.currentSpan, startMs, startMs + d(p, "triggerExecution"),
        Map("batch_id" -> p.batchId, "rows" -> p.numInputRows))
      var at = startMs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k => t.record(s"microbatch.$k", id, at, at + d(p, k)); at += d(p, k) }
    }
    progress.lastOption.foreach { p =>
      layer("state.rows_total") += p.stateOperators.map(_.numRowsTotal.toDouble).sum
      layer("state.memory_bytes") += p.stateOperators.map(_.memoryUsedBytes.toDouble).sum
    }
  }

  /** Per traced round: trigger phases, state, source and registry
    * figures; then the stream's three stages as materialized batch calls
    * over the whole names list (enrichment, then counts and the fold over
    * checkpointed inputs, so each figure is that stage alone).
    */
  override def layers(): Map[String, Double] = {
    val n = math.max(1, tracedRounds).toDouble
    val perRound = layer.toMap.map { case (k, v) => k -> v / n } ++ Map(
      "sources.useful_ratio" -> layer("sources.lines_admitted") / layer("sources.lines_decoded"),
      "registry.fetches" -> fetches.value / n,
      "registry.hit_ratio" -> hits.value.toDouble / fetches.value)
    val t = r.tracer
    def ms(name: String)(df: => DataFrame): Double =
      r.timedSeconds(t.span(name)(r.materialize(df))) * 1e3
    val src = GzipLines.read(spark, names)
    val enrich = ms("sources.Registry.enrichWithClient")(
      Registry.enrichWithClient(src, new SyntheticRegistry))
    val parsed = Registry.enrichWithClient(src, new SyntheticRegistry).localCheckpoint()
    val counts = ms("operators.NpmPipeline.dependencyCounts")(NpmPipeline.dependencyCounts(parsed))
    val countsDf = NpmPipeline.dependencyCounts(parsed).localCheckpoint()
    val acc = ms("operators.NpmPipeline.accumulate")(NpmPipeline.accumulate(countsDf))
    perRound ++ Map("registry.enrich_ms" -> enrich, "npm_pipeline.counts_ms" -> counts,
      "npm_pipeline.accumulate_ms" -> acc)
  }

  /** Every round's fold must equal the batch form over the same names. */
  override def check(): Unit = outputs.foreach { case (i, timed, out) =>
    if (fold(out) != expected) {
      if (timed) r.wrong += 1
      r.note(s"stream round $i: streamed fold differs from the batch form " +
        s"(${out.size} rows streamed, ${expected.size} expected)")
    }
  }

  override def extra(): Map[String, Any] = Map(
    "lines_per_round" -> lines, "lines_per_trigger" -> linesPerTrigger,
    "packages_folded" -> expected.size)
}
