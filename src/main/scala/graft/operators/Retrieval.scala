package graft.operators

import graft.{Persisted, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over the documents corpus — the lexical
  * retrieval primitive a training-data pipeline uses for targeted
  * decontamination sweeps ("find every document mentioning these
  * benchmark terms"), data-selection audits and eval-set mining.
  * (Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
  * BM25 and Beyond" — the standard Okapi formulation with the
  * Lucene-style always-positive idf.)
  *
  * Two forms, one answer:
  *  - [[bm25]]: the one-shot scan — tokenize, keep ONLY query-term
  *    postings (the `isin` filter sits before any exchange, so the
  *    shuffle carries |terms|-bounded postings, never the vocabulary),
  *    then score. Corpus stats (N, avgdl) ride in as a 1-row aggregate
  *    cross-join, the q44 convention.
  *  - [[bm25Indexed]]: the 100 TB form — probe a PERSISTED inverted
  *    index (postings bucketed BY TERM, the retrieval analog of the
  *    LSH dedup index q106 and the IVF ANN index q76c). A probe reads
  *    `SelectedBucketsCount ≤ |terms|` of the postings buckets
  *    (bucket pruning on the `IN` filter, plan-asserted) and NEVER
  *    touches corpus text: query latency tracks posting-list length,
  *    not corpus size. Building the index is the write-once offline
  *    layout work a deployment maintains next to the corpus; Bench
  *    seeds it in the untimed pre-pass like its siblings.
  *
  * The index is MAINTAINED, not build-once: [[append]] folds a new
  * crawl batch in (idempotent under retries — the LshIndex `committed`-
  * marker-written-LAST contract) and [[compact]] folds the per-append
  * small files back to one file per bucket. Appendability dictates the
  * layout: per-term df is NOT pre-joined onto posting rows (an append
  * touching a term would invalidate every existing posting of that
  * term) — a probe recomputes df from its own PRUNED posting lists,
  * which is |terms| aggregation groups of already-read rows. Corpus
  * stats are per-segment rows (n_docs, Σdl) summed at probe time —
  * exact, because integer-valued double sums below 2^53 are exact.
  */
object Retrieval {

  /** Default query terms — chosen from the corpus vocabulary so every
    * SF returns a non-degenerate ranking. */
  val DefaultTerms: Seq[String] = Seq("hash", "merge", "window")
  val K1 = 1.2
  val B = 0.75
  val Buckets = 64

  private val IndexKinds = Seq("postings", "stats", "committed")

  /** One name, for one-off lookups; lifecycle code uses a handle. */
  private[graft] def tbl(kind: String, d: String): String = Persisted.Inverted.name(d, kind)

  /** (doc_id, dl, token) occurrences — dl (whitespace-token doc length)
    * rides the explode so tf aggregation can carry it as `max(dl)` and
    * scoring never joins back to the corpus for lengths. */
  private def occurrences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("dl"),
        explode(TextFunctions.tokens(col("text"))).as("token"))

  /** Per-(doc, term) tf with doc length: the posting rows. */
  private def tfOf(occ: DataFrame): DataFrame =
    occ.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** BM25 score over posting rows given per-term df and 1-row corpus
    * stats. The arithmetic shape is mirrored VERBATIM in the DuckDB
    * oracle (same literal structure, so both engines evaluate the same
    * double expressions); idf = ln(1 + (N - df + 0.5)/(df + 0.5)) is
    * the Lucene form, positive for any df ≤ N. */
  private def scored(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
                     k1: Double, b: Double, topN: Int): DataFrame =
    tf.join(dfreq, "token") // |terms| rows — AQE broadcasts unhinted
      .crossJoin(stats)
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("sc"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("sc")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)

  /** One-shot BM25 top-N: tokenize → query-term postings (filtered
    * BEFORE the tf shuffle) → df per term → score → TakeOrdered. */
  def bm25(s: SparkSession, d: String, terms: Seq[String] = DefaultTerms,
           k1: Double = K1, b: Double = B, topN: Int = 10): DataFrame = {
    val docs = Tables.documents(s, d)
    val stats = docs
      .select(size(TextFunctions.tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = tfOf(occurrences(docs).filter(col("token").isin(terms: _*)))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scored(tf, dfreq, stats, k1, b, topN)
  }

  /** Write one index segment for `docs`: posting rows (bucketed+sorted
    * by term), ONE stats row, and — LAST — the `committed` doc_id
    * marker [[append]]'s idempotence keys on (the LshIndex contract: a
    * write that dies before the marker lands leaves the batch
    * UNcommitted, so the retry re-appends instead of silently skipping;
    * the duplicate data rows a retry-after-partial-write can leave are
    * guarded at probe time — postings by a (doc, term) max-fold, stats
    * by seg_key dedup: the row's doc_id-hash-xor segment key is a pure
    * function of the batch's doc set, so a retried segment lands with
    * the SAME key and is folded away, even across a [[compact]]).
    */
  private[graft] def writeSegment(s: SparkSession, docs: DataFrame, d: String,
                                  mode: String, marker: Boolean = true): Unit = {
    val ix = Persisted(s, Persisted.Inverted, d)
    tfOf(occurrences(docs))
      .write.bucketBy(Buckets, "token").sortBy("token")
      .mode(mode).format("parquet").saveAsTable(ix.name("postings"))
    docs
      .select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("dl"))
      // seg_key: order-insensitive, overflow-free fold of the batch's
      // (unique) doc_ids — xor, not sum: ANSI mode faults a long-sum
      // overflow, and xxhash64 values span the full long range
      .agg(coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L)).as("seg_key"),
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .write.mode(mode).format("parquet").saveAsTable(ix.name("stats"))
    if (marker)
      docs.select(col("doc_id")).distinct()
        .write.bucketBy(Buckets, "doc_id").sortBy("doc_id")
        .mode(mode).format("parquet").saveAsTable(ix.name("committed"))
  }

  /** Re-register the index in a fresh session's catalog when its
    * warehouse directories survive from a previous JVM. The sandbox's
    * in-memory catalog forgets table metadata on exit (a production
    * metastore would not), and before this existed every new JVM
    * re-paid the full corpus build — 2428 s at 50 M docs, measured.
    * [[graft.Persisted]] calls this only for a generation whose
    * sentinel proves a complete build with this [[Buckets]] count: a
    * reattach under a different count would declare the wrong bucket
    * count in its DDL and bucket pruning would return WRONG probe rows.
    * The DDL mirrors [[writeSegment]]'s layout exactly (same bucket
    * spec ⇒ probes keep their ≤|terms| bucket pruning). NOTE: reattach
    * proves the index is a COMPLETE build over *some* committed doc set
    * — corpus EQUIVALENCE is a separate contract enforced by
    * [[ensureCorpusExact]] on the registry path (an appended-to index
    * is legitimate for the maintained-lifecycle API, wrong for q113b).
    */
  private def reattach(ix: Persisted.Generation): Boolean =
    IndexKinds.forall(k => java.nio.file.Files.exists(ix.dir(k))) && {
      def ddl(kind: String, cols: String, bucketKey: String): Unit =
        if (!ix.registered(kind))
          ix.s.sql(s"CREATE TABLE `${ix.name(kind)}` ($cols) USING parquet " +
            (if (bucketKey.nonEmpty)
               s"CLUSTERED BY ($bucketKey) SORTED BY ($bucketKey) INTO $Buckets BUCKETS "
             else "") +
            s"LOCATION '${ix.dir(kind).toUri}'")
      ddl("postings", "doc_id BIGINT, token STRING, tf BIGINT, dl BIGINT", "token")
      ddl("stats", "seg_key BIGINT, n_docs BIGINT, sum_dl BIGINT", "")
      ddl("committed", "doc_id BIGINT", "doc_id")
      true
    }

  /** The index of `d`: served, reattached ([[reattach]]) or built over
    * the EXISTING corpus through the [[graft.Persisted]] lifecycle. */
  private def index(ix: Persisted.Generation): Persisted.Generation = {
    ix.ensure(IndexKinds, Buckets, () => reattach(ix)) {
      writeSegment(ix.s, Tables.documents(ix.s, ix.d), ix.d, "overwrite")
    }
    ix
  }

  def buildIndex(s: SparkSession, d: String): Unit =
    index(Persisted(s, Persisted.Inverted, d))

  /** Per-JVM memo of the generations whose index has been VERIFIED
    * corpus-exact, so repeated registry probes pay the corpus id-scan
    * once per session, not once per query. [[append]]
    * removes its entry — the index then legitimately holds more than
    * the corpus and the registry contract no longer holds.
    */
  private val verifiedExact = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Order-insensitive identity of a doc_id set: (count, xor of
    * xxhash64(doc_id)) — the seg_key convention. Exact for set
    * equality up to xor collisions across 64-bit hashes. */
  private def idFold(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L)).as("k")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** The registry contract: q113b ≡ BM25 over the CURRENT corpus,
    * nothing more. A reattached (or same-JVM) index that has been
    * appended to — e.g. by the maintained-lifecycle API or an external
    * tool run against this dir — holds committed docs the corpus does
    * not; detect that with a committed-vs-corpus id fold (one pruned
    * committed scan + one column-pruned corpus id scan — cheap next to
    * a rebuild, and memoized per JVM) and CLEAR-AND-REBUILD on any
    * mismatch. This is the round-6 q113b regression fix: reattach
    * proves build completeness, never corpus equivalence.
    */
  private[graft] def ensureCorpusExact(s: SparkSession, d: String): Persisted.Generation = {
    val ix = Persisted(s, Persisted.Inverted, d)
    if (!verifiedExact.contains(ix.key)) {
      index(ix)
      val idx = idFold(ix.table("committed").select(col("doc_id")))
      if (idx != idFold(Tables.documents(s, d).select(col("doc_id")))) {
        ix.invalidate(IndexKinds)
        index(ix) // clears staging too: nothing can resurrect
      }
      verifiedExact.put(ix.key, ())
    }
    ix
  }

  /** Fold a new batch into the index: later probes score over corpus +
    * batch with the updated df/N/avgdl. Docs already committed are
    * skipped (idempotent re-append); a batch whose previous attempt
    * crashed before its marker landed is RETRIED, and the duplicate
    * rows that can leave are probe-guarded (see [[writeSegment]]). */
  def append(s: SparkSession, docs: DataFrame, d: String): Unit = {
    val ix = index(Persisted(s, Persisted.Inverted, d))
    val fresh = docs.join(ix.table("committed").select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    writeSegment(s, fresh, d, "append")
    // the index may now hold more than the corpus: the registry path
    // must re-verify (and rebuild) before serving q113b from it
    verifiedExact.remove(ix.key)
  }

  /** Compact after many appends: each append adds one file set per
    * bucket; rewrite each table bucket-complete (same bucket spec ⇒
    * probes keep their pruning) through the [[graft.Persisted]] staging
    * swap. */
  def compact(s: SparkSession, d: String): Unit = {
    val ix = Persisted(s, Persisted.Inverted, d)
    IndexKinds.foreach(kind => ix.rewrite(kind) { t =>
      kind match {
        case "stats" =>
          // drop retry-duplicate rows but NEVER fold segments into one
          // row: a batch whose append crashed pre-marker, was swept in
          // by this compaction, and is then RETRIED must still dedup
          // against its original segment row by seg_key — folding
          // would destroy the key and double-count it in N/avgdl. One
          // row per crawl is not a small-files problem — which is also
          // why the rewrite coalesces to ONE file: unbucketed, its
          // file count would otherwise be shuffle/AQE-dependent, and a
          // post-compact count above [[Buckets]] would make every
          // compactIfNeeded re-trigger the full rewrite forever
          // (round-8 advice).
          t.dropDuplicates("seg_key").coalesce(1).write
        case "postings" =>
          t.groupBy(col("doc_id"), col("token"))
            .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"))
            .select(col("doc_id"), col("token"), col("tf"), col("dl"))
            .write.bucketBy(Buckets, "token").sortBy("token")
        case _ =>
          t.distinct().write.bucketBy(Buckets, "doc_id").sortBy("doc_id")
      }
    })
  }

  /** [[compact]] only when it would change the layout. A bucketed
    * write lands tasks×touched-buckets files, so a fresh build (or any
    * append since the last compaction) exceeds one file per bucket and
    * compacts; a table already at ≤ [[Buckets]] data files per kind is
    * left untouched — the Bench pre-pass calls this every invocation,
    * and an unconditional rewrite is minutes of work at 50 M docs for
    * a layout that cannot improve. Crash recovery still runs first (a
    * surviving `_compacting` staging dir must be resolved regardless).
    * Returns true iff a rewrite ran — the idempotence a spec pins
    * (second call on an unchanged index returns false).
    */
  def compactIfNeeded(s: SparkSession, d: String): Boolean = {
    val ix = Persisted(s, Persisted.Inverted, d)
    ix.recover(IndexKinds)
    def dataFiles(kind: String): Long = {
      val dir = ix.dir(kind)
      if (!java.nio.file.Files.isDirectory(dir)) 0L
      else {
        val walk = java.nio.file.Files.list(dir)
        try walk.filter(p => {
          val n = p.getFileName.toString
          java.nio.file.Files.isRegularFile(p) &&
            !n.startsWith("_") && !n.startsWith(".")
        }).count()
        finally walk.close()
      }
    }
    val needed = IndexKinds.exists(kind => ix.registered(kind) && dataFiles(kind) > Buckets)
    if (needed) compact(s, d)
    needed
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher 2009): fuse the lexical BM25 ranking with a dense
    * cosine ranking against a query embedding — the standard two-tower
    * retrieval recipe for eval-set mining and targeted contamination
    * sweeps, where neither keywords nor embeddings alone recall enough.
    * rrf(d) = Σ_systems 1/(k0 + rank_system(d)) over the systems that
    * returned d in their top `m`.
    *
    * Scale shape: each arm is its own already-scale-safe retrieval
    * (BM25 = |terms|-bounded postings; dense = one codegen'd dot per
    * row + TakeOrdered — the corpus never shuffles). The rank windows
    * and the full-outer fusion join run on the two m-row CANDIDATE
    * lists, never the corpus — the single-partition window is over ≤ m
    * rows by construction. Ranks are row_numbers over the ROUNDED
    * (4 dp) arm scores with doc_id tie-break, so both engines assign
    * identical ranks; rrf is then a sum of exact rational divisions —
    * bit-identical cross-engine.
    */
  def rrfFusion(s: SparkSession, d: String, terms: Seq[String] = DefaultTerms,
                queryId: Long = 0L, m: Int = 50, k0: Int = 60,
                topN: Int = 10): DataFrame = {
    val lex = bm25(s, d, terms, K1, B, m)
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).as("lrank"))
    val dense = Similarity.knnBrute(s, d, queryId, m)
      .select(col("vec_id").as("doc_id"), row_number()
        .over(Window.orderBy(col("sim").desc, col("vec_id"))).as("drank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (col("lrank") + k0), lit(0.0)) +
          coalesce(lit(1.0) / (col("drank") + k0), lit(0.0)), 6).as("rrf"),
        coalesce(col("lrank"), lit(0)).as("lrank"),
        coalesce(col("drank"), lit(0)).as("drank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topN)
  }

  /** The probe side: same output as [[bm25]] — the corpus text is never
    * scanned. The `token IN (…)` filter prunes the bucketed postings
    * scan to ≤ |terms| buckets (SelectedBucketsCount, spec-asserted);
    * df and corpus stats are recomputed from the pruned lists and the
    * segment rows, so appends are reflected without rewriting anything.
    *
    * `validateCorpus` (the default — the REGISTRY contract) asserts the
    * index covers exactly the current corpus before serving, rebuilding
    * on mismatch ([[ensureCorpusExact]]; memoized per JVM, so steady
    * probes stay index-only). The maintained-lifecycle callers
    * (the append specs) pass false: for them an index
    * holding corpus ∪ appended batches is the POINT, and the probe
    * answers over whatever the index currently holds. */
  def bm25Indexed(s: SparkSession, d: String, terms: Seq[String] = DefaultTerms,
                  k1: Double = K1, b: Double = B, topN: Int = 10,
                  validateCorpus: Boolean = true): DataFrame = {
    val ix =
      if (validateCorpus) ensureCorpusExact(s, d) else index(Persisted(s, Persisted.Inverted, d))
    // retry-duplicate guard: a crashed-then-retried append can leave a
    // doc's posting rows twice; tf/dl are identical copies, so max ≡
    // first and the fold is exact
    val p = ix.table("postings")
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"))
    val dfreq = p.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = ix.table("stats")
      .groupBy(col("seg_key")) // retried segment rows share their key
      .agg(max(col("n_docs")).as("n"), max(col("sum_dl")).as("s"))
      .agg(sum(col("n")).cast("double").as("n_docs"),
        (sum(col("s")).cast("double") / sum(col("n"))).as("avgdl"))
    scored(p, dfreq, stats, k1, b, topN)
  }
}
