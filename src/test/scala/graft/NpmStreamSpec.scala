package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.operators.NpmPipeline
import graft.sources.{GzipLines, Registry, SyntheticRegistry, ThrottledLinesSource}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}

/** The reference dataflow as a checkpointed stateful stream over the
  * fixture (ThrottledLinesSource → enrich → counts → update-mode fold),
  * checked against the batch form over `GzipLines.read`.
  */
class NpmStreamSpec extends AnyFunSuite with Eventually {
  import SharedSpark.spark

  /** package → "version=deps/devDeps;…"; a later row for a package wins. */
  private def fold(rows: Seq[Row]): Map[String, String] = rows.map { row =>
    row.getString(0) -> row.getMap[String, Row](1).toSeq.sortBy(_._1)
      .map { case (v, c) => s"$v=${c.getInt(0)}/${c.getInt(1)}" }.mkString(";")
  }.toMap

  private lazy val batchFold: Map[String, String] = fold(NpmPipeline.accumulate(
    NpmPipeline.dependencyCounts(Registry.enrichWithClient(
      GzipLines.read(spark, Fixtures.packages), new SyntheticRegistry))).collect().toSeq)

  private val fixtureLines = 88L

  /** Starts the stream on `ckpt`. Each batch's updated rows land in `out`
    * under its batch id, so a replayed batch replaces its first attempt.
    */
  private def start(ckpt: String, out: ConcurrentHashMap[Long, Seq[Row]],
                    trigger: Trigger): StreamingQuery = {
    val src = spark.readStream.format(classOf[ThrottledLinesSource].getName)
      .option("path", Fixtures.packages).option("linesPerTrigger", "5").load()
    val acc = NpmPipeline.accumulate(NpmPipeline.dependencyCounts(
      Registry.enrichWithClient(src, new SyntheticRegistry)))
    val sink: (DataFrame, Long) => Unit = (df, id) => out.put(id, df.collect().toSeq)
    acc.writeStream.outputMode("update").option("checkpointLocation", ckpt)
      .trigger(trigger).foreachBatch(sink).start()
  }

  /** Update mode emits a package's whole fold whenever it changes. */
  private def streamedFold(out: ConcurrentHashMap[Long, Seq[Row]]): Map[String, String] =
    fold(out.asScala.toSeq.sortBy(_._1).flatMap(_._2))

  private def inputRows(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  test("update-mode checkpointed stream over the fixture equals the batch fold") {
    val lines = spark.read.textFile(Fixtures.packages).collect()
    assert(lines.length == fixtureLines && lines.count(_.isEmpty) == 1)
    val dir = Files.createTempDirectory("graft_npm_fold_")
    val out = new ConcurrentHashMap[Long, Seq[Row]]()
    val q = start(dir.resolve("ckpt").toString, out, Trigger.AvailableNow())
    q.awaitTermination()
    assert(inputRows(q) == fixtureLines)
    val streamed = streamedFold(out)
    assert(!streamed.contains(""), "the blank line was enriched as a package")
    assert(batchFold.size > 70)
    assert(streamed == batchFold)
  }

  test("checkpoint restart: k triggers, stop, resume on the same checkpoint; fold equals batch") {
    val dir = Files.createTempDirectory("graft_npm_restart_")
    val ckpt = dir.resolve("ckpt")
    val out = new ConcurrentHashMap[Long, Seq[Row]]()

    val q1 = start(ckpt.toString, out, Trigger.ProcessingTime(0L))
    eventually(timeout(Span(60, Seconds)), interval(Span(100, Millis))) {
      assert(q1.recentProgress.count(_.numInputRows > 0) >= 3)
    }
    q1.stop(); q1.awaitTermination()
    val first = inputRows(q1)
    assert(first > 0 && first < fixtureLines, s"first run read $first lines")

    val q2 = start(ckpt.toString, out, Trigger.AvailableNow())
    q2.awaitTermination()
    val resumedAt = q2.recentProgress.filter(_.numInputRows > 0).map(_.batchId).min
    assert(resumedAt >= 3, s"second run started over at batch $resumedAt")
    assert(first + inputRows(q2) >= fixtureLines)
    assert(streamedFold(out) == batchFold)

    // Hadoop's `.crc` sidecars next to the offset and commit logs and the
    // state deltas, and Spark's own `N.delta.crc` state checksums.
    val files = Files.walk(ckpt).iterator().asScala.map(p => ckpt.relativize(p).toString).toSet
    assert(files.contains("offsets/.0.crc") && files.contains("commits/.0.crc"), files.toSeq.sorted)
    assert(files.exists(f => f.startsWith("state/") && f.endsWith("/.1.delta.crc")), files.toSeq.sorted)
    assert(files.exists(f => f.startsWith("state/") && f.endsWith("/1.delta.crc") &&
      !f.endsWith("/.1.delta.crc")), files.toSeq.sorted)
  }
}
