package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Command line of the JVM half of the benchmark (perfbench/run.py
  * builds the inputs, starts this, then checks the outputs).
  */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, names: String, report: String,
                      startEpochMs: Long, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m.getOrElse("names", ""), m("report"),
      m("start-epoch-ms").toLong, m.getOrElse("cores", "4").toInt)
  }
}

/** One workload: untimed set-up (warm-up, index builds, outputs for the
  * check), a round that is timed as a whole and per operation, and an
  * untimed check.
  */
trait Workload {
  /** Items completed by one round: queries, or stream lines folded. */
  def itemsPerRound: Double
  /** A round's length on the 4-core reference box; a run of `--seconds`
    * measures `seconds / nominalRoundS` rounds (at least one), so both
    * sides of a comparison do the same work.
    */
  def nominalRoundS: Double
  def setup(): Unit
  def round(i: Int): Unit
  /** Checks made after the timed rounds; failures count in `wrong`. */
  def check(): Unit = ()
  /** Layer metrics the workload measures itself, after the traced rounds. */
  def layers(): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end figures for the human-readable report. */
  def extra(): Map[String, Any] = Map.empty
}

/** Shared measurement state of one run. */
final class Run(val spark: SparkSession, val o: Opts) {
  val tracer = new Tracer(spark, System.nanoTime())
  val probe = new StreamProbe
  spark.streams.addListener(probe)

  /** False during set-up: warm-up operations are not samples. */
  var recording = false
  val latencies = ArrayBuffer.empty[Double]
  val opTimes = mutable.Map.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val problems = ArrayBuffer.empty[String]

  def note(msg: String): Unit = synchronized {
    System.err.println(s"graftbench: $msg")
    if (problems.size < 50) problems += msg
  }

  /** Times one operation. A throwing operation counts as failed and adds
    * no latency sample. While tracing, the listener bus is drained after
    * the operation so its events are attributed to `key`.
    */
  def op(key: String)(body: => Unit): Unit = {
    tracer.key = key
    if (recording) attempted += 1
    val t0 = System.nanoTime()
    if (tracer.enabled) tracer.ran(key)
    val ok = try { tracer.span(s"query:$key")(body); true }
    catch {
      case NonFatal(e) =>
        if (recording) failed += 1
        note(s"$key failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer.enabled) tracer.drain()
    if (ok && recording) {
      latencies += ms
      opTimes.getOrElseUpdate(key, ArrayBuffer.empty) += ms
    }
  }

  /** Runs a query to completion, every row and column, discarding output. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timedSeconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def execute(w: Workload): Map[String, Any] = {
    tracer.spansOn = o.trace
    w.setup()
    val setupS = (System.currentTimeMillis() - o.startEpochMs) / 1e3
    tracer.spansOn = false
    recording = true
    val rounds = ArrayBuffer.empty[Double]
    val count = math.max(1, math.round(o.seconds / w.nominalRoundS).toInt)
    var i = 0
    def runRounds(n: Int, into: ArrayBuffer[Double]): Unit = (1 to n).foreach { _ =>
      into += tracer.span(s"round:$i")(timedSeconds(w.round(i)))
      i += 1
    }
    // Untraced rounds give the end-to-end figures. A traced run spends
    // the first half untraced and the second half traced; the ratio of
    // the two halves is the tracing overhead.
    val traced = ArrayBuffer.empty[Double]
    var layerTotals = Map.empty[String, Double]
    var tracedWall = 0.0
    var oneShot = Map.empty[String, Double]
    if (!o.trace) runRounds(count, rounds)
    else {
      runRounds(math.max(1, count / 2), rounds)
      val latUntraced = latencies.toSeq
      tracer.enable(); tracer.spansOn = true
      val t0 = System.nanoTime()
      runRounds(math.max(1, count - count / 2), traced)
      tracedWall = (System.nanoTime() - t0) / 1e9
      latencies.clear(); latencies ++= latUntraced
      layerTotals = tracer.snapshot
      recording = false
      tracer.key = "layers"
      oneShot = w.layers()
      tracer.disable()
    }
    recording = false
    w.check()

    val itemsPerS = w.itemsPerRound * rounds.size / rounds.sum
    val endToEnd = Map[String, Any](
      "setup_s" -> setupS,
      "round_s" -> Stats.median(rounds.toSeq),
      "latency_p50_ms" -> Stats.pct(latencies.toSeq, 50),
      "latency_p95_ms" -> Stats.pct(latencies.toSeq, 95),
      "items_per_s" -> itemsPerS,
      "peak_rss_mb" -> Box.peakRssMb)
    val perLayer: Map[String, Any] = if (!o.trace) Map.empty else {
      val n = traced.size.toDouble
      val perRound = (layerTotals - "exec.stage_skew").map { case (k, v) => k -> v / n }
      Map(
        "exec.stage_skew" -> layerTotals.getOrElse("exec.stage_skew", 0.0),
        "exec.busy_ratio" -> layerTotals.getOrElse("exec.task_run_s", 0.0) / (tracedWall * o.cores),
        "trace.overhead_ratio" -> Stats.median(traced.toSeq) / Stats.median(rounds.toSeq),
        "scheduler.jobs_q77" -> tracer.jobsPerRun("q77_bpe_merges"),
        "scheduler.jobs_q89" -> tracer.jobsPerRun("q89_pagerank")) ++
        Seq("plan.bnlj", "plan.cartesian", "plan.single_partition")
          .map(f => f -> tracer.flagsPerRun(f)) ++
        perRound ++ oneShot
    }
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "end_to_end" -> endToEnd,
      "samples" -> Map("rounds" -> rounds.size, "latency" -> latencies.size,
        "traced_rounds" -> traced.size),
      "round_times_s" -> rounds.toSeq, "traced_round_times_s" -> traced.toSeq,
      "op_median_ms" -> opTimes.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
      "attempted" -> attempted, "failed" -> failed, "wrong_jvm" -> wrong,
      "problems" -> problems.toSeq,
      "extra" -> w.extra(),
      "per_layer" -> perLayer,
      "plan_flags" -> tracer.flags.toSeq.map { case (k, f, node, rows) =>
        Map("key" -> k, "flag" -> f, "node" -> node, "input_rows" -> rows) },
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs),
      "box" -> Box.stamp(spark, o.cores))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The machine and configuration a result was measured on. */
object Box {
  def peakRssMb: Double = procStatus("VmHWM") / 1024.0

  private def procStatus(field: String): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith(field + ":")).getOrElse("")
      line.split("\\s+").lift(1).map(_.toDouble).getOrElse(Double.NaN)
    } catch { case NonFatal(_) => Double.NaN }

  private def memTotalMb: Double =
    try {
      Files.readAllLines(Paths.get("/proc/meminfo")).toArray.map(_.toString)
        .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    } catch { case NonFatal(_) => Double.NaN }

  /** Session defaults of the engine's own dials; anything else is reported. */
  private val dialDefaults = Map("spark.graft.dedup.useIndex" -> "true")

  def stamp(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "cores_used" -> cores,
    "cores_available" -> Runtime.getRuntime.availableProcessors(),
    "mem_total_mb" -> memTotalMb,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "dials" -> (sys.env.filter(_._1.startsWith("SPARK_GRAFT_")) ++
      spark.conf.getAll.filter { case (k, v) =>
        k.startsWith("spark.graft.") && !dialDefaults.get(k).contains(v) }))
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Main {
  def session(o: Opts): SparkSession = {
    val b = GraftSession.configure(
      SparkSession.builder().master(s"local[${o.cores}]").appName("graftbench"), o.cores)
    val s = b
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toUri.toString)
      .config("spark.local.dir", Paths.get(o.work, "local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = session(o)
    try {
      val run = new Run(spark, o)
      val w: Workload = o.workload match {
        case "npm-stream" => new NpmStream(run)
        case "interactive-sql" => new InteractiveSql(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val report = run.execute(w)
      Files.writeString(Paths.get(o.report), Json(report))
    } finally spark.stop()
  }
}
