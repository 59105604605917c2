package graft.operators

import graft.{Persisted, Tables}
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Similarity search over an embedding column (SURVEY.md §2c).
  *
  * Baseline: brute-force cosine top-k against a broadcast query vector —
  * one narrow scan, one codegen'd dot per row ([[graft.plans.ArrayDotProduct]]),
  * TakeOrderedAndProject; the corpus never shuffles.
  * Scale path: random-hyperplane LSH bucketing (IVF-style): rows are
  * pre-bucketed by 8 sign bits, a query scans only its probe buckets
  * (~9/256 of the corpus at 1 probe-bit) instead of everything.
  */
object Similarity {

  /** Brute-force cosine top-k for the query vector `vec_id = queryId`. */
  def knnBrute(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"), GraftFunctions.norm(col("embedding")).as("qn"))
    // broadcast is provably bounded: q is ONE row (equality filter on the
    // primary key) — never corpus-derived, at any corpus size.
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(
        GraftFunctions.dot(col("embedding"), col("qv")) /
          (GraftFunctions.norm(col("embedding")) * col("qn")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-label centroid vectors via posexplode → (label, dim) hash agg —
    * the codegen'd element-wise mean (no interpreted array lambdas), and
    * the building block of IVF coarse quantization / k-means steps.
    */
  def centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "e")))
      .groupBy(col("label"), col("i"))
      .agg(round(avg(col("e")), 4).as("mean_e"))
      .orderBy("label", "i")

  private val Hyperplanes = 8
  private val Dim = 64

  /** Deterministic pseudo-random ±1 hyperplanes (fixed seed → the bucket
    * function is stable across runs and executors). `planesFor(8)` is
    * the historical 8-plane set (same seed and draw order).
    */
  private[operators] def planesFor(bits: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(bits, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  private[operators] val planes: Array[Array[Double]] = planesFor(Hyperplanes)

  /** LSH bucket id of a vector column: `bits` sign bits of hyperplane
    * dots (one codegen'd dot per plane). Caller must have registered
    * [[GraftFunctions]] on the session.
    *
    * `bits` is the SCALE dial: within-bucket comparison costs Σ n_b²,
    * so bucket count must track corpus size — size bits ≈
    * log₂(n / target-bucket-size), e.g. 8 bits for ~100 k vectors at
    * ~500/bucket, 12 bits for ~2 M. A fixed bucket count measured 56×
    * cost for 10× vectors at the 100× point.
    */
  def lshBucket(v: Column, bits: Int = Hyperplanes): Column =
    // bits = 0 ⇒ ONE bucket: every pair forms, turning any LSH-blocked
    // consumer into its own exhaustive bridge (the q61b radius-8 pattern)
    if (bits == 0) lit(0)
    else planesFor(bits).zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(GraftFunctions.dot(v, planeLit) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Lloyd's k-means over the embedding column — the IVF codebook
    * training step. Per iteration: assignment is ONE narrow scan with k
    * codegen'd dot products per row (distance argmin via
    * ||x-c||² ∝ -2x·c + ||c||², so ||x||² never needs recomputing);
    * the centroid update is a (k·dim)-cell aggregate. Only the MODEL
    * (k×dim doubles) ever reaches the driver — the standard k-means
    * shape at any corpus size.
    *
    * Deterministic: initialized from the first k vectors by vec_id.
    * Returns (iter, cluster, n, inertia) — one row per cluster per
    * iteration, inertia monotonically non-increasing across iterations.
    */
  def kmeans(s: SparkSession, d: String, k: Int = 8, iters: Int = 3): DataFrame = {
    GraftFunctions.register(s)
    import s.implicits._
    val e = graft.Lineage.truncate( // scanned once per iteration
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    val (_, results) = lloydIterations(e, k, iters)
    results
      .toDF("iter", "cluster", "n", "inertia")
      .select(col("iter"), col("cluster"), col("n"), round(col("inertia"), 4).as("inertia"))
      .orderBy("iter", "cluster")
  }

  /** Shared Lloyd loop (see [[kmeans]] for the shape and exactness notes):
    * returns the final codebook and the per-iteration per-cluster stats.
    */
  private def lloydIterations(e: org.apache.spark.sql.DataFrame, k: Int, iters: Int)
      : (Array[Array[Double]], Seq[(Int, Int, Long, Double)]) = {
    var centroids: Array[Array[Double]] = e
      .filter(col("vec_id") < k).orderBy("vec_id")
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val results = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Double)]
    for (it <- 1 to iters) {
      // size-dispatched assignment (literal code small-k, broadcast-join
      // large-k) — bit-identical either way, see cellAssign
      val assigned = (if (k > LiteralAssignMaxCells) assignJoin(centroids, e)
                      else assignLiteral(centroids, e))
        .withColumnRenamed("cell", "cluster")
      // per-cluster stats for this iteration (one agg). Inertia is summed
      // on the 1e-4 integer grid (per-row quantize, exact long sum) so the
      // DuckDB oracle mirror reproduces it bit-for-bit — a raw double sum
      // is partition-order-dependent and engine-divergent (the q16 lesson).
      import org.apache.spark.sql.types.LongType
      val stats = assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("sq_dist") * 10000).cast(LongType)).as("iq"))
        .collect().map(r => (it, r.getInt(0), r.getLong(1), r.getLong(2) / 1e4))
      results ++= stats
      // centroid update: (cluster, dim) mean — k·dim cells to the driver.
      // Means land on the 1e-6 grid via the same integer-scale recipe
      // (quantize elements, exact long sum, integer-rounded quotient), so
      // the next iteration's centroid literals are engine-exact too.
      val upd = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy(col("cluster"), col("i"))
        .agg(round(sum(round(col("v") * 1000000).cast(LongType)).cast("double") /
          count(lit(1))).cast(LongType).as("mq"))
        .collect()
      val byCluster = upd.groupBy(_.getInt(0))
      centroids = centroids.indices.map { j =>
        byCluster.get(j) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).map(_.getLong(2) / 1e6).toArray
          case None => centroids(j) // empty cluster keeps its centroid
        }
      }.toArray
    }
    (centroids, results.toSeq)
  }

  /** Symmetric int8 quantization of the embedding column — the storage/
    * bandwidth compression step of a vector index (a 64-dim float32
    * vector becomes 64 bytes + one scale). Per vector: scale =
    * max|x|/127, q_i = round(x_i/scale) ∈ [-127,127]; reports the scale,
    * the saturated-element count, and the exact L2² reconstruction error.
    *
    * Plan: posexplode → per-vector max via window → row-local quantize →
    * one hash-agg — all codegen, two shuffles on vec_id (window + agg),
    * each carrying (id, dim, value) rows. The error sum uses the q16
    * recipe (per-element 1e-10-grid quantize, exact long sum) so it is
    * partition-order-independent and engine-exact — a raw double sum
    * would hash-diverge from the oracle.
    */
  def quantizeInt8(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val el = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast("double").as("x"))
    val w = Window.partitionBy(col("vec_id"))
    val q = el
      .withColumn("scale", max(abs(col("x"))).over(w) / 127.0)
      .withColumn("q",
        when(col("scale") === 0.0, lit(0L))
          .otherwise(round(col("x") / col("scale")).cast(LongType)))
    val err = (col("x") - col("q") * col("scale"))
    q.groupBy(col("vec_id"))
      .agg(
        round(max(col("scale")), 6).as("scale"),
        sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_sat"),
        round(sum(round(err * err * 1e10).cast(LongType)).cast("double") / 1e10, 6)
          .as("sq_err"))
      .orderBy("vec_id")
  }

  /** All bucket ids within hamming distance `r` of `bucket` (multi-probe
    * fan-out: C(8,0)+C(8,1)+… buckets).
    */
  private[graft] def probeSet(bucket: Int, r: Int): Seq[Int] = {
    (0 to r).flatMap { dist =>
      (0 until Hyperplanes).combinations(dist).map(_.foldLeft(bucket)((b, i) => b ^ (1 << i)))
    }.distinct
  }

  /** IVF/LSH-bucketed ANN over an in-flight bucket column: compute
    * buckets in the scan, search only the query's bucket plus all probe
    * buckets within `probeRadius` bit flips — the recall/cost dial
    * (radius 1 ≈ 9/256 of the corpus, radius 2 ≈ 37/256). The whole
    * corpus is still read; see [[knnLshIndexed]] for the materialized
    * variant that prunes unread partitions at the source.
    */
  def knnLsh(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10,
             probeRadius: Int = 1): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d).withColumn("bucket", lshBucket(col("embedding")))
    // one-row lookup of the query vector + its bucket (a query parameter,
    // not a data collect)
    val qRow = e.filter(col("vec_id") === queryId).select("embedding", "bucket").head()
    scoreProbes(e, qRow.getSeq[Float](0), qRow.getInt(1), queryId, k, probeRadius)
  }

  /** Write the embeddings as a parquet table PARTITIONED BY the LSH
    * bucket. Directory-partitioning (not `bucketBy`) is deliberate: the
    * probe set is a partition-pruning predicate, so a radius-1 query
    * READS ~9/256 of the corpus — the file listing drops the other
    * partitions before any I/O. One narrow write, 256 partitions, no
    * shuffle beyond the write's own.
    */
  def buildBucketedIndex(s: SparkSession, d: String, out: String): Unit = {
    GraftFunctions.register(s)
    Tables.embeddings(s, d)
      .withColumn("bucket", lshBucket(col("embedding")))
      .write.mode("overwrite").partitionBy("bucket").parquet(out)
  }

  /** ANN against the MATERIALIZED bucket index: the probe set becomes a
    * partition filter on the bucketed table, so non-probe partitions are
    * pruned at file-listing time and a radius-1 query reads ~9/256 of
    * the corpus (assert via PartitionFilters in the scan node). Results
    * are identical to [[knnLsh]] at the same radius. The index is the
    * `lsh8` kind of the persisted IVF family (see [[indexDir]]).
    */
  def knnLshIndexed(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10,
                    probeRadius: Int = 1): DataFrame = {
    GraftFunctions.register(s)
    val idx = Tables.parquet(s,
      indexDir(s, d, s"lsh$Hyperplanes")(buildBucketedIndex(s, d, _)))
    // query-vector lookup: one row by vec_id (pushed-down point filter)
    val qRow = idx.filter(col("vec_id") === queryId)
      .select("embedding", "bucket").head()
    scoreProbes(idx, qRow.getSeq[Float](0), qRow.getInt(1), queryId, k, probeRadius)
  }

  /** One trained codebook per (embeddings generation, cells, iters)
    * per JVM — the local analog of the offline-trained IVF codebook a
    * deployment stores next to its vector index.
    */
  private val codebooks = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int), Array[Array[Double]]]

  /** True IVF ANN: a k-means-trained codebook (not random hyperplanes)
    * partitions the corpus into cells; a query ranks the CENTROIDS
    * driver-side (cells × dim doubles — a model, not data) and scans only
    * the `nprobe` nearest cells. Complements [[knnLsh]]: trained cells
    * adapt to the data distribution, so recall per scanned-fraction is
    * higher than data-oblivious hyperplane buckets; the trade is the
    * offline training pass. `nprobe = cells` scans everything ≡ exhaustive
    * — the oracle-checked bridge for the whole path (training, cell
    * assignment, probe selection, scoring), exactly as q61b bridges the
    * LSH variant. Cell assignment is the same k codegen'd dot products
    * per row as [[kmeans]] assignment; per-probe-row cost is one dot.
    * At scale the assigned cell becomes a partition column exactly like
    * [[buildBucketedIndex]] — the probe set then prunes at file listing.
    */
  def knnIvfKmeans(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10,
                   nprobe: Int = 2, cells: Int = 8, iters: Int = 3): DataFrame = {
    GraftFunctions.register(s)
    val codebook = trainedCodebook(s, d, cells, iters)
    val e = Tables.embeddings(s, d)
    val qVec = e.filter(col("vec_id") === queryId)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    // rank cells by centroid distance to the query — a driver-side loop
    // over the MODEL (cells × dim), not over data
    val probes = codebook.zipWithIndex
      .map { case (c, j) =>
        (c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }
      .sortBy { case (dist, j) => (dist, j) }
      .take(nprobe).map(_._2)
    // same size-dispatched assignment as kmeans/semDedup
    val qv = array(qVec.map(lit): _*)
    val qn = math.sqrt(qVec.map(x => x * x).sum)
    cellAssign(codebook, e)
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(
        GraftFunctions.dot(col("embedding"), qv) /
          (GraftFunctions.norm(col("embedding")) * lit(qn)), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Trained codebook for (dir, cells, iters) — the offline-training
    * artifact every IVF/semantic consumer shares. Resolution order:
    * JVM cache → PERSISTED codebook table (the q76c stance: the model
    * travels with the index, so a session reads cells×dim doubles
    * instead of paying ~15 distributed Lloyd jobs) → inline training as
    * the cold-start fallback, which then persists the model for every
    * later session. Training is engine-exact (integer-grid Lloyd), so
    * read-back vs retrain are bit-identical — q76 ≡ q76b bridge either
    * way. The JVM cache key and the persisted name both carry the
    * embeddings generation: a regenerated file retrains, in a live JVM
    * too.
    */
  private[graft] def trainedCodebook(s: SparkSession, d: String, cells: Int,
                                     iters: Int): Array[Array[Double]] = {
    val ivf = Persisted(s, Persisted.Ivf, d)
    codebooks.getOrElseUpdate((ivf.key, cells, iters), {
      val kind = s"codebook${cells}x$iters"
      var trained: Option[Array[Array[Double]]] = None
      // path-based, not a catalog table: the sentinel plus the dir is
      // the whole proof
      val onDisk = () => java.nio.file.Files.isDirectory(ivf.dir(kind))
      try ivf.ensure(Seq(kind), attach = onDisk) {
        val e = graft.Lineage.truncate(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
        trained = Some(lloydIterations(e, cells, iters)._1)
        writeCodebook(s, trained.get, ivf.dir(kind).toString)
      } catch { case NonFatal(e) if trained.isDefined => // e.g. a read-only warehouse
        System.err.println(s"similarity: codebook not persisted to ${ivf.dir(kind)}: $e")
      }
      trained.getOrElse(Tables.parquet(s, ivf.dir(kind).toString).orderBy("cell")
        .collect().map(_.getSeq[Double](1).toArray))
    })
  }

  /** Persist a codebook as its (cell, centroid) table — model-sized. */
  private def writeCodebook(s: SparkSession, codebook: Array[Array[Double]],
                            out: String): Unit = {
    import s.implicits._
    codebook.zipWithIndex.toSeq
      .map { case (c, j) => (j, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(out)
  }

  /** Above this many cells, argmin assignment switches from `cells`
    * inline literal-dot columns to a broadcast centroid-table join:
    * the literal form generates code LINEAR in cells (measured: 8→64
    * cells took q80 from 18 s to 88 s at sf1 on compile cost alone),
    * while the join form is one fixed-size codegen'd stage whose row
    * expansion n·cells is distributed work, not driver-side code.
    */
  private val LiteralAssignMaxCells = 16

  /** Join-form assignment: broadcast the (cell, centroid, ||c||²) table,
    * one codegen'd dot per (row, cell), argmin via `min(struct(score,
    * cell))` — lexicographic struct min ties to the lowest cell, the
    * same tie-break as the literal form's array_position-of-min and the
    * oracle's `ORDER BY score, cluster`. Bit-identical to the literal
    * form (spec-asserted): same double scores, same argmin.
    * Returns (vec_id, embedding, sq_dist, cell).
    */
  private def assignJoin(codebook: Array[Array[Double]], e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cb = codebook.zipWithIndex
      .map { case (c, j) => (j, c.toSeq, c.map(x => x * x).sum) }.toSeq
      .toDF("cl", "c", "c2")
    // broadcast is provably bounded: cb is the CODEBOOK (k cells × dim
    // doubles, already materialized on the driver as `codebook`) — its
    // size is a model hyperparameter, independent of corpus size.
    e.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("embedding"),
        struct((GraftFunctions.dot(col("embedding"), col("c")) * -2.0 + col("c2"))
          .as("sc"), col("cl").as("cl")).as("m"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"), min(col("m")).as("m"))
      .select(col("vec_id"), col("embedding"),
        (GraftFunctions.dot(col("embedding"), col("embedding")) + col("m.sc"))
          .as("sq_dist"),
        col("m.cl").cast("int").as("cell"))
  }

  /** Literal-form assignment (see [[assignJoin]] for the large-cells
    * alternative): the argmin-by-(-2x·c + ||c||²) used by [[kmeans]];
    * ties break to the lowest cell. Returns the same schema.
    */
  private def assignLiteral(codebook: Array[Array[Double]], e: DataFrame): DataFrame = {
    val cells = codebook.length
    val scores = codebook.zipWithIndex.map { case (c, j) =>
      val cLit = array(c.map(lit): _*)
      val c2 = c.map(x => x * x).sum
      (GraftFunctions.dot(col("embedding"), cLit) * -2.0 + c2).as(s"s$j")
    }
    val xx = GraftFunctions.dot(col("embedding"), col("embedding"))
    val sArr = array((0 until cells).map(j => col(s"s$j")): _*)
    e.select(col("vec_id") +: col("embedding") +: xx.as("xx") +: scores: _*)
      .select(col("vec_id"), col("embedding"),
        (col("xx") + array_min(sArr)).as("sq_dist"),
        (array_position(sArr, array_min(sArr)) - 1).cast("int").as("cell"))
  }

  /** Size-dispatched assignment: literal code for small codebooks (the
    * oracle-checked operating points), broadcast-join for large ones
    * (the scale path). `useJoin` overrides for equivalence tests.
    */
  private[graft] def cellAssign(codebook: Array[Array[Double]], e: DataFrame,
                                useJoin: Option[Boolean] = None): DataFrame = {
    val join = useJoin.getOrElse(codebook.length > LiteralAssignMaxCells)
    val a = if (join) assignJoin(codebook, e) else assignLiteral(codebook, e)
    a.select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** Semantic deduplication (the SemDeDup recipe of Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space, then within
    * each cluster drop every vector that has a near-identical
    * (cosine ≥ `tau`) neighbor with a smaller vec_id — the min-id keeper
    * policy, deterministic and engine-mirrorable. Complements q54/q55:
    * those bucket by metadata label / random hyperplanes; this clusters
    * by the LEARNED geometry, which is what catches cross-source
    * semantic duplicates.
    *
    * Scale shape: training touches only the model (see [[kmeans]]);
    * assignment is one narrow scan; the pair join is bounded by the
    * cluster partition (Σ n_c² — `cells` is the scale dial, sized
    * ∝ corpus / target-cluster-size exactly like [[lshBucket]] bits,
    * and giant clusters can be sub-bucketed by [[lshBucket]] within the
    * cluster key). Returns one row per DROPPED vector with its cluster,
    * keeper, and duplicate count.
    */
  def semDedup(s: SparkSession, d: String, cells: Int = 8, iters: Int = 3,
               tau: Double = 0.4): DataFrame = {
    GraftFunctions.register(s)
    val assigned = cellAssign(trainedCodebook(s, d, cells, iters),
        Tables.embeddings(s, d))
      .withColumn("nrm", GraftFunctions.norm(col("embedding")))
    val a = assigned.select(col("cell"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .select(col("cell"), col("a"), col("b"),
        round(GraftFunctions.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("b"), col("cell"))
      .agg(min(col("a")).as("kept_by"), count(lit(1)).as("n_dups"))
      .select(col("b").as("vec_id"), col("cell").as("cluster"),
        col("kept_by"), col("n_dups"))
      .orderBy("vec_id")
  }

  /** The cells dial as a formula (the lshBucket-bits analog): smallest
    * power of two ≥ n/targetPerCell, floored at 8 — keeps the
    * within-cluster pair join Σ n_c² ≈ n·targetPerCell, i.e. LINEAR in
    * corpus size at a fixed per-cell budget.
    */
  private[graft] def cellsFor(n: Long, targetPerCell: Int = 500): Int = {
    val want = math.min(1L << 14, math.max(1L, n / targetPerCell))
    var c = 8
    while (c < want) c <<= 1
    c
  }

  /** [[semDedup]] with the cells dial auto-sized from the corpus count
    * (a parquet-metadata count — no data scan). At the test SFs this
    * resolves to the oracle-checked cells=8 operating point; at larger
    * corpora the pair join stays linear instead of quadratic (measured:
    * see SCALE.md's semantic-dedup section).
    */
  def semDedupAuto(s: SparkSession, d: String, targetPerCell: Int = 500,
                   iters: Int = 3, tau: Double = 0.4): DataFrame = {
    val n = Tables.embeddings(s, d).count()
    semDedup(s, d, cellsFor(n, targetPerCell), iters, tau)
  }

  /** Materialize the IVF index the way a deployment stores it: the
    * vectors parquet PARTITIONED BY assigned cell (probe sets prune at
    * file listing, the [[buildBucketedIndex]] contract) plus the trained
    * codebook as its own small table (`cell`, `centroid`) — the model
    * artifact travels WITH the index instead of being retrained per
    * session (SURVEY round-3 seed).
    */
  def buildIvfIndex(s: SparkSession, d: String, out: String, cells: Int = 8,
                    iters: Int = 3): Unit = {
    GraftFunctions.register(s)
    val codebook = trainedCodebook(s, d, cells, iters)
    cellAssign(codebook, Tables.embeddings(s, d))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/vectors")
    writeCodebook(s, codebook, s"$out/codebook")
  }

  /** Resolve (building if needed) a persisted index at its stable
    * warehouse location, reused across JVMs like a deployment's index
    * next to the corpus: a path-based [[graft.Persisted]] kind of the
    * IVF family, keyed on the embeddings generation. `build` writes the
    * index into the dir it is given.
    */
  private def indexDir(s: SparkSession, d: String, kind: String)(
      build: String => Unit): String = {
    val ivf = Persisted(s, Persisted.Ivf, d)
    val out = ivf.dir(kind).toString
    ivf.ensure(Seq(kind), attach = () => java.nio.file.Files.isDirectory(ivf.dir(kind))) {
      build(out)
    }
    out
  }

  /** ANN against the MATERIALIZED IVF index: the codebook is read back
    * as a table (cells × dim — model-sized), cells are ranked driver-side,
    * and the probe set becomes a partition filter on the cell-partitioned
    * vectors table — non-probe cells are pruned before any I/O. Results
    * ≡ [[knnIvfKmeans]] at the same (cells, iters, nprobe): same
    * codebook, same assignment, same scoring.
    */
  def knnIvfIndexed(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10,
                    nprobe: Int = 2, cells: Int = 8, iters: Int = 3): DataFrame = {
    GraftFunctions.register(s)
    val path = indexDir(s, d, s"index${cells}x$iters")(buildIvfIndex(s, d, _, cells, iters))
    val codebook = Tables.parquet(s, s"$path/codebook")
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](1).toArray)
    val idx = Tables.parquet(s, s"$path/vectors")
    val qVec = idx.filter(col("vec_id") === queryId)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val probes = codebook.zipWithIndex
      .map { case (c, j) =>
        (c.zip(qVec).map { case (x, y) => (x - y) * (x - y) }.sum, j)
      }
      .sortBy { case (dist, j) => (dist, j) }
      .take(nprobe).map(_._2)
    val qv = array(qVec.map(lit): _*)
    val qn = math.sqrt(qVec.map(x => x * x).sum)
    idx.filter(col("cell").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(
        GraftFunctions.dot(col("embedding"), qv) /
          (GraftFunctions.norm(col("embedding")) * lit(qn)), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Shared probe-scoring tail: filter to probe buckets, one codegen'd
    * dot per surviving row, TakeOrdered top-k.
    */
  private def scoreProbes(e: DataFrame, qVec: Seq[Float], qBucket: Int,
                          queryId: Long, k: Int, probeRadius: Int): DataFrame = {
    val probes = probeSet(qBucket, probeRadius)
    val qv = array(qVec.map(f => lit(f.toDouble)): _*)
    val qn = math.sqrt(qVec.map(f => f.toDouble * f).sum)
    e.filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), round(
        GraftFunctions.dot(col("embedding"), qv) /
          (GraftFunctions.norm(col("embedding")) * lit(qn)), 4).as("sim"),
        col("bucket"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
