package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for queries into per-query files — the
  * optimization-round evidence format (`plans/r11/<query>_<tag>.txt`).
  *
  * Mostly planning-only, with two caveats: queries that call
  * Lineage.truncate during CONSTRUCTION would eagerly execute their
  * upstream pipeline and dump a collapsed `Scan ExistingRDD` stub, so
  * the dumps are planned inside Lineage.untruncated (round-10 advice;
  * iterative queries then show their full per-round
  * lineage), and index-probing queries still run their self-healing
  * index build on first touch of a data dir.
  *
  * Usage: runMain graft.PlanFormatted <outDir> <tag> [q1,q2,...] [sfDir]
  *   tag   = e.g. "before" / "after" — appended to the file name
  *   query list empty/"all" = every registry query
  */
object PlanFormatted {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names: Seq[String] = args.lift(2) match {
      case None | Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list)         => list.split(',').toSeq
    }
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    Lineage.untruncated(names.foreach { name =>
      val txt =
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case scala.util.control.NonFatal(e) =>
          s"PLANNING FAILED: ${e.getClass.getName}: ${e.getMessage}\n" }
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
        s"== $name (sf=$sfDir, explain formatted) ==\n" + txt)
    })
    spark.stop()
    println(s"[plan-formatted] wrote ${names.size} plans to $outDir (tag=$tag)")
  }
}
