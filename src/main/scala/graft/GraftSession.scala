package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Tuned for local[N] testing but chosen to survive a 1000-executor
  * cluster: AQE owns runtime re-planning (partition coalescing + skew-join
  * splitting), dimension tables broadcast, and shuffle partitioning is
  * explicit rather than the 200 default.
  */
object GraftSession {

  /** Apply Graft defaults to any builder (Verify/Bench/tests share this). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = {
    // Shuffle/spill scratch space: a cluster executor writes shuffle
    // files to local NVMe; this sandbox's default /tmp sits on the same
    // virtio disk as the data. SPARK_GRAFT_LOCAL_DIR (e.g. a tmpfs)
    // separates the two for scale measurements.
    // Comma-separated dirs stripe shuffle blocks across media (Spark's
    // native spark.local.dir list form) — the one-box stand-in for
    // multiple NVMe volumes, and the escape hatch when a single tmpfs
    // can't hold a 50 M-doc shuffle next to the heap (q118's 10 000×
    // point OOM-killed the JVM on tmpfs-only scratch, round 6).
    // Normalize ONCE and hand Spark the normalized list: Spark splits
    // spark.local.dir on ',' without trimming, so passing the raw env
    // value ("a, b") would send it to a literal " b" path distinct from
    // the pre-created "b".
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach { raw =>
      val dirs = raw.split(',').map(_.trim).filter(_.nonEmpty)
      dirs.foreach(d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
      if (dirs.nonEmpty) b.config("spark.local.dir", dirs.mkString(","))
    }
    // The `file:` scheme goes to graft.LocalFs. Without libhadoop
    // (NativeIO unavailable), Hadoop's local filesystem forks `chmod` for
    // every file it creates and `readlink` on every FileContext rename:
    // several forks per checkpoint file (the file, its `.crc`, both ends
    // of the rename), most of a trigger's offset, commit and state-store
    // commit time. LocalFs does both in-process with the same modes,
    // `.crc` files and rename semantics.
    LocalFs.hadoopConf.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    b
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Shuffles START wide (8× the steady-state partition count) and AQE
    // coalesces back by size: at small SFs this converges to the same
    // plan, while at 100×+ a 600 M-row exchange lands in ~2 M-row
    // partitions instead of 19 M-row ones that spill. Sizing the
    // *initial* number high and letting AQE shrink is the scale-safe
    // direction; the reverse (small initial) cannot be fixed at runtime.
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (shufflePartitions * 8).toString)
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Runtime SMJ → shuffled-hash-join conversion: when a join side's
    // per-partition map fits this budget, AQE swaps the sort-merge for a
    // hash build — a 600 M-row fact side then never gets SORTED, the
    // single biggest cost of the fact⋈fact joins at the 1000× point
    // (measured 168→113 s on the sf100 5-table join). Static bucketed
    // joins are untouched (no exchange ⇒ no AQE re-plan ⇒ they keep the
    // sort-free SMJ their sorted layout gives them).
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      (128L * 1024 * 1024).toString)
    // Runtime Bloom-filter injection (posture, not a measured win here):
    // a join side with a selective FILTER can plant a bloom on the join
    // key into the other side's scan so the fact shuffle carries only
    // rows that can join. The creation-side cap is raised from the 10 MB
    // default so a tens-of-millions-key side may still build its bloom.
    // Note the rule declines when the creation side's selectivity sits
    // behind a JOIN rather than a predicate (q04's ASIA fifth — measured
    // neutral, 23.5 s either way at the 1000× point), so this helps
    // filter-shaped reductions only.
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      (2L * 1024 * 1024 * 1024).toString)
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // Tungsten page size. Spark's default is the execution pool / cores /
    // 16 rounded up to a power of two (16 MB at a 3 GB heap, up to 64 MB),
    // and a hash aggregate or sorter takes a whole page before its first
    // row. A streaming trigger or a short query holds a few MB per task,
    // so most of each page is empty; pages a young collection finds live
    // overflow the survivor space into the old generation, and how many
    // it finds depends on timing. With the default, the npm-stream
    // benchmark's peak RSS varied 1764-2009 MB across runs (4-core VM,
    // 3 GB heap); with 2 MB pages it is 1576-1634 MB. A task can still
    // hold 8192 pages (16 GB), and a record larger than a page gets its own.
    .config("spark.buffer.pageSize", "2m")
    // Reliable-checkpoint hygiene (the Lineage.truncate production mode):
    // without this, checkpoint data written under spark.graft.checkpointDir
    // is NEVER reclaimed — every iteration of a long iterative job (BPE's
    // k merge rounds) retains its checkpoint until application exit. Must
    // be set at SparkConf time (ContextCleaner reads it at construction).
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    // Generated-class cache, default 100 entries — sized for a handful
    // of queries, not an analytics ENGINE serving a large query library
    // from one long-lived session. Once the library's distinct codegen'd
    // stages exceed the cache, every further lookup is a Janino
    // recompile (~100-300 ms); batch queries amortize one recompile per
    // run, but STREAMING micro-batches re-plan per trigger, so a
    // thrashing cache taxes every batch of every stream — measured in
    // round 9 as the full 138-query suite inflating per-micro-batch
    // streaming queries 5-12× (q36 2.4 s isolated vs 28.8 s in-suite)
    // while the same queries read in-band in any ≤12-query session.
    // Static conf: must be set before the session exists (PlanSpec pins
    // that any session was BUILT with >= 4000).
    .config("spark.sql.codegen.cache.maxEntries", "4000")
    .config("spark.ui.enabled", "false")
  }

  /** Run `body` with `settings` on session `s`, then restore each key's
    * prior value, or unset a key that was not set before. */
  def withConf[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll // only keys set on the session, no defaults
    val prior = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 4): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The mains' session: `local[SPARK_GRAFT_CPUS]`, 4 cores when unset.
    * The one place the core count is read. */
  def fromEnv(): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4))
}
