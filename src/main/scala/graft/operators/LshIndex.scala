package graft.operators

import graft.{Persisted, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED MinHash-LSH index + incremental probe — the incremental-
  * ingestion shape at 100 TB. q71 answers "which new docs near-dup the
  * corpus" by recomputing BOTH sides per run; at scale the corpus side
  * (signatures over 100 TB) dominates and never changes between crawls.
  * This module materializes the corpus side ONCE as five bucketed tables
  * — the dedup analog of the ANN family's persisted IVF index (q76c):
  *
  *  - `bands`    (doc_id, band, bkey)  bucketed by `bkey` — the probe
  *    join key, so candidate generation plans NO exchange on the index
  *    side (only the new batch, ~1000× smaller, shuffles);
  *  - `sigs`     (doc_id, m0..m63)     bucketed by `doc_id` — feeds the
  *    signature-agreement pre-filter;
  *  - `shingles` (doc_id, h)           bucketed by `doc_id` — feeds
  *    exact-Jaccard verification without re-reading corpus text;
  *  - `sizes`    (doc_id, sz)          bucketed by `doc_id`;
  *  - `committed` (doc_id)             bucketed by `doc_id` — the
  *    append-idempotence marker, written LAST (see [[append]]).
  *
  * A probe touches corpus TEXT never and corpus parquet only through
  * bucket-pruned joins; `append` folds a processed batch into the index
  * so the next crawl dedups against it too. Probe output is exactly
  * q71's (a ∈ corpus, b ∈ batch, jaccard ≥ τ) — same exhaustive DuckDB
  * oracle.
  */
object LshIndex {

  private[graft] val corpusSources: Seq[String] = (0 to 9).map(i => s"src$i")
  val Buckets = 32

  private val IndexKinds = Seq("bands", "sigs", "shingles", "sizes", "committed")

  /** One name, for one-off lookups; lifecycle code uses a handle. */
  private[graft] def tbl(kind: String, d: String): String = Persisted.Lsh.name(d, kind)

  /** Write the five index tables for `docs` (build or append).
    *
    * `committed` — the idempotence key [[append]] anti-joins against —
    * is a pure MARKER table (doc_id only) written LAST: a write that
    * dies before it lands leaves the batch's docs UNcommitted, so the
    * retry re-appends them instead of skipping them (the round-4 advice
    * find: keying idempotence on an artifact written FIRST made a
    * crashed-then-retried append silently drop its docs from every
    * future probe, on both join sides, with nothing left to detect it).
    * The price is bounded the other way: a retry after a partial write
    * can leave DUPLICATE rows for the affected docs in the four DATA
    * tables, which [[probe]] is insensitive to.
    */
  private def write(ix: Persisted.Generation, docs: DataFrame, mode: String): Unit = {
    val f = Dedup.Features.word(docs)
    def out(df: DataFrame, kind: String, key: String): Unit =
      df.write.bucketBy(Buckets, key).sortBy(key)
        .mode(mode).format("parquet").saveAsTable(ix.name(kind))
    out(f.sizes, "sizes", "doc_id")
    out(f.bands, "bands", "bkey")
    out(f.sig, "sigs", "doc_id")
    out(f.ex, "shingles", "doc_id")
    // marker LAST — all docs attempted, including shingle-less ones
    // (< 3 tokens): they have no signature to probe, and committing them
    // stops a retry from re-running their (empty) extraction forever
    out(docs.select(col("doc_id")).distinct(), "committed", "doc_id")
  }

  /** Build the index over the EXISTING corpus (sources src0-src9), once
    * per catalog: offline layout work a deployment maintains next to the
    * corpus, like the ANN bucket index. A real deployment's metastore
    * persists the bucketed-table metadata across sessions; the sandbox's
    * in-memory catalog forgets it on JVM exit, so a new JVM rebuilds
    * (rebuild cost, not a correctness event).
    */
  private def index(s: SparkSession, d: String): Persisted.Generation = {
    val ix = Persisted(s, Persisted.Lsh, d)
    ix.ensure(IndexKinds, Buckets) {
      write(ix, Tables.documents(s, d).filter(col("source").isin(corpusSources: _*)),
        "overwrite")
    }
    ix
  }

  def buildIndex(s: SparkSession, d: String): Unit = index(s, d)

  /** Fold a processed batch into the index: the next crawl's probe then
    * dedups against it too. Bucketed appends keep the layout — probes
    * stay index-side-shuffle-free. Docs already present in the index are
    * skipped (idempotent re-append — a retried batch must not produce
    * duplicate index rows, which would duplicate every later probe pair).
    */
  def append(s: SparkSession, docs: DataFrame, d: String): Unit = {
    val ix = index(s, d)
    write(ix, docs.join(ix.table("committed").select(col("doc_id")),
      Seq("doc_id"), "left_anti"), "append")
  }

  /** Compact the index after many appends: each `append` adds one file
    * set per bucket, so a crawl-per-day deployment accumulates small
    * files that tax the probe's file listing and scan. Rewrites each
    * table bucket-complete (same bucket spec ⇒ probes keep planning
    * zero index-side exchange) through the [[graft.Persisted]] staging
    * swap — the index-table analog of [[Layouts.compact]].
    */
  def compact(s: SparkSession, d: String): Unit = {
    val ix = Persisted(s, Persisted.Lsh, d)
    IndexKinds.foreach { kind =>
      val key = if (kind == "bands") "bkey" else "doc_id"
      ix.rewrite(kind)(_.write.bucketBy(Buckets, key).sortBy(key))
    }
  }

  /** Probe the persisted index with a batch of NEW documents (default:
    * every non-corpus source, matching q71): the shared three-stage pair
    * pipeline with the index as side a and the batch's inline word
    * features as side b. The index side reads pre-partitioned — its
    * `bands` are bucketed on the candidate join key `bkey` — so only
    * batch bands shuffle. Output ≡ q71 (exhaustive oracle).
    */
  def probe(s: SparkSession, d: String, tau: Double = 0.5,
            batchOpt: Option[DataFrame] = None): DataFrame = {
    val ix = index(s, d)
    // Docs ALREADY folded into the index (via append) are dropped from
    // the batch side: an overlapping doc would otherwise sit on both join
    // sides — yielding self-pairs (a==b, jaccard 1.0) and duplicate
    // pairs. The anti-join makes append-then-probe safe for ANY batch; the
    // indexed side still reports those docs as near-dups of future ones.
    // Keyed on `committed` — the same artifact append's idempotence keys
    // on, so a doc in the crashed-append limbo (data rows landed, marker
    // not) stays on the BATCH side until its retry commits it (the
    // residual self-pair risk that creates is guarded by `a =!= b`).
    val batch = batchOpt.getOrElse(
        Tables.documents(s, d).filter(!col("source").isin(corpusSources: _*)))
      .join(ix.table("committed").select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    // Crash-retry residue (see [[write]]) duplicates a doc's rows in the
    // data tables. Duplicate band rows only repeat candidates, which
    // stage 1 de-duplicates; a duplicate signature row repeats a
    // candidate after stage 2, de-duplicated here; shingles and sizes
    // are read through de-duplicating views, which the doc_id bucketing
    // plans with NO exchange.
    val indexed = new Dedup.Features(ix.table("bands"), ix.table("sigs"),
      ix.table("shingles").distinct(),
      ix.table("sizes").groupBy(col("doc_id")).agg(max(col("sz")).as("sz")),
      corpusSized = false)
    val fresh = Dedup.Features.word(batch)
    // a =!= b: a doc whose append crashed pre-marker sits in the index
    // data tables AND (uncommitted) on the batch side
    val cand = Dedup.agreed(
        Dedup.candidates(indexed, fresh, col("a.doc_id") =!= col("b.doc_id")),
        indexed, fresh, Dedup.verifiableAgreement(tau))
      .dropDuplicates("a", "b")
    Dedup.verified(cand, indexed, fresh, tau)
      .orderBy("a", "b")
  }
}
