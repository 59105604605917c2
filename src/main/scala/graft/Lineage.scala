package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for ITERATIVE operators (PageRank rounds, BPE merge
  * loops, label propagation, Lloyd's k-means): each round must cut the
  * plan DAG or iteration N replans/re-executes all N-1 predecessors.
  *
  * Two modes behind one call:
  *  - default: `localCheckpoint(eager = true)` — executor-resident
  *    blocks, no dfs round-trip. Fast, but on a REAL cluster an executor
  *    loss mid-iteration kills the job (truncated lineage = no recompute
  *    path).
  *  - `spark.graft.checkpointDir=<dir>` (session conf): RELIABLE
  *    `checkpoint(eager = true)` into that directory (HDFS/object store
  *    on a cluster) — iterations survive executor loss at the cost of a
  *    write per round. The production dial for long iterative jobs.
  *
  * Results are identical either way (spec-asserted on pageRank): the
  * mode only changes where the truncated result lives.
  *
  * Storage hygiene for the reliable mode: checkpointed RDD data is only
  * reclaimed when `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (a SparkConf-time setting — [[GraftSession.configure]] sets it), else
  * long iterative jobs (BPE's k merge rounds) accumulate one retained
  * checkpoint per iteration for the life of the application.
  */
object Lineage {

  val ConfKey = "spark.graft.checkpointDir"

  /** `df.truncated` — suffix form of [[truncate]], so operator chains keep
    * reading top-to-bottom. EVERY lineage cut in the engine goes through
    * here (round-4 ask): single-pass materializations included, so an
    * executor loss on a real cluster has one uniform recovery story —
    * flip `spark.graft.checkpointDir` and every cut becomes reliable.
    */
  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncated: DataFrame = Lineage.truncate(df)
  }

  /** Storage for the local (executor-resident) mode,
    * MEMORY_AND_DISK_SER: serialized blocks are 3-5× smaller than the
    * deserialized default, and the difference is the whole game when a
    * corpus-sized intermediate (signatures, shingles) is truncated on a
    * box where the unified region also feeds 32 concurrent sort/shuffle
    * tasks — round 5 measured the deserialized form starving shuffle
    * writers at the 5 M-doc point (`UNABLE_TO_ACQUIRE … got 0` inside
    * ShuffleExternalSorter.spill). The cost is one ser/deser per
    * consumer read — linear CPU, no cliff.
    */
  private val LocalLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** As [[truncate]], but with an explicit local-mode storage level —
    * for CORPUS-sized intermediates that are written once and read a
    * bounded number of times (PrefixSum's frozen range partitioning),
    * where any memory-backed level leaves data-sized blocks competing
    * with the heap: DISK_ONLY puts them on executor-local disk, the
    * medium actually sized for them. Reliable-checkpoint mode is
    * unchanged (it already writes to the checkpoint filesystem).
    */
  def truncateTo(df: DataFrame,
                 level: StorageLevel): DataFrame =
    if (noTruncate.value) df
    else if (reliable(df.sparkSession)) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true, storageLevel = level)

  /** Plan-dump scope: inside [[untruncated]] every truncate is a no-op,
    * so `explain` shows the FULL logical pipeline instead of `Scan
    * ExistingRDD` stubs. Scoped to the calling thread and the threads it
    * starts, never a session setting: iterative operators run outside it
    * would re-execute their whole lineage per round. Only
    * [[PlanDump]] enters it.
    */
  private val noTruncate = new scala.util.DynamicVariable[Boolean](false)

  def untruncated[A](body: => A): A = noTruncate.withValue(true)(body)

  def truncate(df: DataFrame): DataFrame = truncateTo(df, LocalLevel)

  /** RDD form of [[truncate]], for iterative loops written on RDDs: marks
    * `rdd` for the same reliable or local checkpoint, taken by the first
    * job that computes it (persisted first, so a reliable checkpoint's
    * write reads the blocks instead of recomputing them).
    */
  def truncate[T](s: SparkSession, rdd: RDD[T]): RDD[T] = {
    if (!noTruncate.value) {
      rdd.persist(LocalLevel)
      if (reliable(s)) rdd.checkpoint() else rdd.localCheckpoint()
    }
    rdd
  }

  /** Whether `spark.graft.checkpointDir` is set; if so, the context's
    * checkpoint dir points into it. */
  private def reliable(s: SparkSession): Boolean =
    s.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = s.sparkContext
        // setCheckpointDir creates a fresh subdir under `dir`; only (re)set
        // when unset or pointed somewhere else, so one session reuses one
        // subdir instead of spawning one per truncate call. Compare the
        // current checkpoint dir's PARENT path component-exactly — a raw
        // substring test would false-match /data/ckpt against a current
        // /data/ckpt2/<uuid> and silently keep checkpointing to the old
        // location after the conf is re-pointed. Comparison uses HADOOP
        // Path semantics, fs-qualified: sc.getCheckpointDir returns a
        // fully-qualified URI (hdfs://… / s3a://… on a cluster — exactly
        // this dial's production use), which java.nio Paths cannot parse
        // (FileSystemNotFoundException) — the round-4 form re-set the dir
        // on EVERY truncate there, spawning a subdir per iteration.
        val hconf = sc.hadoopConfiguration
        def qualified(p: org.apache.hadoop.fs.Path): String =
          p.getFileSystem(hconf).makeQualified(p).toString
        val target = qualified(new org.apache.hadoop.fs.Path(dir))
        val currentParent = sc.getCheckpointDir.flatMap(cd =>
          Option(new org.apache.hadoop.fs.Path(cd).getParent).map(qualified))
        if (!currentParent.contains(target)) sc.setCheckpointDir(dir)
        true
      case None => false
    }
}
