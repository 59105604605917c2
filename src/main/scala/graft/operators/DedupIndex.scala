package graft.operators

import graft.{Persisted, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted FULL-CORPUS dedup feature index — the shared signature /
  * shingle layout the whole self-join dedup family probes, instead of
  * each query recomputing its own feature pipeline from raw corpus text
  * per run (round-10 verdict: q57/q53/q52b/q82 were the suite's largest
  * batch sinks, every one a fresh scan + explode + shuffle of features
  * that never change between runs).
  *
  * The stance is the q106/LshIndex one, extended from the incremental-
  * ingestion corpus (src0-src9) to the whole corpus: feature extraction
  * over 100 TB is write-once offline layout work a deployment maintains
  * next to the corpus; the per-run cost worth measuring is the PROBE.
  * All tables are bucketed on their join key so the hot joins plan zero
  * index-side exchange:
  *
  *  word 3-gram family (q51/q53/q56/q64/q82/q107/q115):
  *   - `wshh`   (doc_id, h)          bucketed+sorted by `h` — the q53/q82
  *     rare-shingle SELF-join and the df(h) aggregate run exchange-free;
  *   - `wshd`   (doc_id, h)          bucketed by `doc_id`, sorted
  *     (doc_id, h) — exact-Jaccard verification joins;
  *   - `wsizes` (doc_id, sz)         bucketed by `doc_id`;
  *   - `wsig`   (doc_id, m0..m63)    bucketed by `doc_id` — the
  *     signature-agreement pre-filter joins;
  *   - `wbands` (doc_id, band, bkey) bucketed+sorted by `bkey` — the LSH
  *     candidate self-join plans zero exchange on BOTH sides.
  *
  *  char 5-gram family (q57): `cshd`/`csizes`/`csig`/`cbands`, same keys.
  *
  *  mirror-simhash family (q52b): `mchunks` (doc_id, simhash, chunk,
  *  ckey) bucketed+sorted by (ckey, chunk) — the chunk-equality candidate
  *  self-join is the whole operator, and it plans exchange-free.
  *
  * Naming, complete-or-rebuild and GC are the [[graft.Persisted]]
  * lifecycle; each `ensure*` call names its tables from one generation.
  */
object DedupIndex {

  val Buckets = 32

  private def out(df: DataFrame, ix: Persisted.Generation, kind: String,
                  bucketCol: String, sortCols: Seq[String]): Unit =
    df.write.bucketBy(Buckets, bucketCol).sortBy(sortCols.head, sortCols.tail: _*)
      .mode("overwrite").format("parquet").saveAsTable(ix.name(kind))

  private def ensure(s: SparkSession, d: String, kinds: Seq[String])
                    (build: Persisted.Generation => Unit): Persisted.Generation = {
    val ix = Persisted(s, Persisted.DedupFeatures, d)
    ix.ensure(kinds, Buckets)(build(ix))
    ix
  }

  /** The fields of one inline [[Dedup.Features]] value, as the
    * `<prefix>shd`/`sizes`/`sig`/`bands` tables [[Dedup.Features.indexed]]
    * reads. */
  private def outFeatures(f: Dedup.Features, ix: Persisted.Generation,
                          prefix: String): Unit = {
    out(f.ex, ix, prefix + "shd", "doc_id", Seq("doc_id", "h"))
    out(f.sizes, ix, prefix + "sizes", "doc_id", Seq("doc_id"))
    out(f.sig, ix, prefix + "sig", "doc_id", Seq("doc_id"))
    out(f.bands, ix, prefix + "bands", "bkey", Seq("bkey"))
  }

  /** Word 3-gram tables: the word features plus their shingles
    * re-bucketed by `h` (`wshh`). */
  private[graft] def word(s: SparkSession, d: String): Persisted.Generation =
    ensure(s, d, Seq("wshh", "wshd", "wsizes", "wsig", "wbands")) { ix =>
      val f = Dedup.Features.word(Tables.documents(s, d))
      out(f.ex, ix, "wshh", "h", Seq("h"))
      outFeatures(f, ix, "w")
    }

  /** Char 5-gram (stride 2) tables — q57's feature set. */
  private[graft] def char(s: SparkSession, d: String): Persisted.Generation =
    ensure(s, d, Seq("cshd", "csizes", "csig", "cbands")) { ix =>
      outFeatures(Dedup.Features.char(Tables.documents(s, d)), ix, "c")
    }

  /** Mirror-simhash chunk table — q52b's candidate key set. */
  private[graft] def mirror(s: SparkSession, d: String): Persisted.Generation =
    ensure(s, d, Seq("mchunks")) { ix =>
      out(Dedup.mirrorChunksOf(Tables.documents(s, d)), ix, "mchunks",
        "ckey", Seq("ckey", "chunk"))
    }

  def ensureWord(s: SparkSession, d: String): Unit = word(s, d)
  def ensureChar(s: SparkSession, d: String): Unit = char(s, d)
  def ensureMirror(s: SparkSession, d: String): Unit = mirror(s, d)
}
