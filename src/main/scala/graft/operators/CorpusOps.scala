package graft.operators

import graft.Lineage.TruncateOps
import graft.Tables
import graft.functions.TextFunctions
import graft.plans.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for LLM training-data pipelines: n-gram
  * language-model statistics, sequence packing, and source mixing.
  * All pure Catalyst expressions — scan-speed-bound at 100 TB.
  */
object CorpusOps {

  /** Bigram language-model counts: top-N adjacent-token pairs. ROW-LOCAL
    * adjacency (in-array transform → explode — the shinglesOf shape): the
    * first form's posexplode → per-doc lead WINDOW shuffled AND sorted
    * the full token stream just to pair neighbors that were already
    * adjacent in the array; now the only exchange is the partial-agg'd
    * bigram hash agg (vocabulary-bounded).
    */
  def bigramCounts(s: SparkSession, d: String, topN: Int = 100): DataFrame = {
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    Tables.documents(s, d)
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Sequence packing, concat-then-chunk: the training-data step that
    * concatenates each source's token stream in doc_id order and cuts it
    * into fixed-length sequences. Emits, per document, its token offset
    * within the source stream and the first/last chunk it lands in.
    *
    * Partitioned by `source` on purpose: a GLOBAL running offset would
    * serialize 100 TB through one partition; per-source streams keep the
    * window a real parallel shuffle (source is the natural packing unit —
    * training mixes are assembled per domain anyway).
    */
  def packSequences(s: SparkSession, d: String, seqLen: Int = 512): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("end_off") - col("n_tokens")).as("start_off"),
        floor((col("end_off") - col("n_tokens")) / lit(seqLen.toLong)).as("chunk_first"),
        floor((col("end_off") - 1) / lit(seqLen.toLong)).as("chunk_last"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * `n`-token shingle with an evaluation set (here the `src0` slice
    * stands in for the benchmark). A REAL benchmark suite is MBs →
    * AQE broadcasts it from its measured size and the corpus is ONE
    * narrow scan with a map-side semi-join. The hint is deliberately
    * NOT forced (the Pipeline.scala stance): this synthetic bench set
    * is corpus-derived and grows with SF — a forced broadcast OOM'd the
    * driver at ~29 M hashes (25 M docs, round 5), where the unhinted
    * plan degrades to a partitioned semi-join instead of dying.
    */
  def decontaminate(s: SparkSession, d: String, n: Int = 8): DataFrame = {
    val docs = Tables.documents(s, d)
    val bench = shingleHashes(docs.filter(col("source") === "src0"), n)
      .select(col("h")).distinct()
    val corpus = shingleHashes(docs.filter(col("source") =!= "src0"), n)
    // h is DISTINCT per doc by construction (shingleHashes explodes an
    // array_distinct), and the bench side is distinct, so the semi-join
    // match count IS the distinct count — plain count drops the distinct
    // rewrite's extra dedup exchange (guide §2.4; oracle unchanged).
    corpus.join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Distinct hashed n-gram shingles per doc: posexplode → lead window →
    * xxhash64 over the n tokens (the codegen shingling path).
    */
  private[graft] def shingleHashes(docs: DataFrame, n: Int): DataFrame = {
    // row-local in-array n-gram hashing (the shinglesOf shape; the old
    // lead-window form shuffled and sorted the token stream per call —
    // h is doc-keyed, so per-doc array_distinct ≡ the old global distinct)
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    val args = (0 until n).map(i => s"ts[i+$i]").mkString(", ")
    docs
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(ts) - $n), i -> xxhash64($args))")))
        .as("h"))
  }

  /** Intra-document repetition score (the "repetitive text" quality
    * filter): fraction of duplicate token trigrams within each document.
    * One explode + one window + one agg — per-doc state never leaves its
    * partition.
    */
  def repetition(s: SparkSession, d: String): DataFrame = {
    // fully ROW-LOCAL (round-5 de-windowing): the trigram stream, its
    // count AND its distinct count all live inside the document's own
    // array — the old explode → lead window → groupBy shuffled the token
    // stream twice to compute a per-row scalar. Zero exchanges beyond
    // the presentation orderBy.
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    Tables.documents(s, d)
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), expr(
        "transform(sequence(0, size(ts) - 3), i -> xxhash64(ts[i], ts[i+1], ts[i+2]))")
        .as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_grams"),
        size(array_distinct(col("hs"))).cast("long").as("n_distinct"))
      .withColumn("dup_frac",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  /** Deterministic hash sampling: keep a document iff the first hex digit
    * of md5(doc_id) falls in `buckets` (2 of 16 digits = a 1/8 sample).
    * The selection is a pure row-local predicate — no RNG state, no
    * coordination: every executor, every re-run, and every OTHER engine
    * (the DuckDB oracle computes the same md5) picks the identical rows.
    * That reproducibility is the point at 100 TB: the sample of a corpus
    * snapshot is a deterministic function of it, so downstream experiments
    * are replayable. Complements `stat.sampleBy` (seeded per-stratum
    * rates) with the exact-reproducible form.
    */
  def sampleCorpus(s: SparkSession, d: String,
                   buckets: Seq[String] = Seq("0", "1")): DataFrame =
    Tables.documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1).isin(buckets: _*))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** Exact duplicate-SPAN removal (the substring-level dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * at token-window granularity): any `n`-token window whose hash occurs
    * more than once in the corpus marks its n positions as covered; covered
    * tokens are dropped and each document is reassembled from the
    * survivors. Catches boilerplate repeated ACROSS documents that
    * document-level near-dup (q51) never sees.
    *
    * Plan shape: windows come from the codegen shingling path (explode →
    * lead window, hashes only — gram strings never shuffle); the dup-hash
    * set is one hash-agg; coverage is an n-way position explode of dup
    * windows only (dup density × n rows, not corpus × n); reassembly is a
    * per-doc sort_array over collect_list — per-doc state, never global.
    */
  def duplicateSpans(s: SparkSession, d: String, n: Int = 10): DataFrame = {
    // row-local positions AND grams (round-5 de-windowing): posexplode
    // over the filtered token ARRAY yields the same 1-based rn the old
    // row_number window computed — after shuffling and sorting the token
    // stream; gram rn = its first token's array position + 1.
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    val base = Tables.documents(s, d).select(col("doc_id"), ts.as("ts"))
    val tok = base
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("p", "t")))
      .select(col("doc_id"), (col("p") + 1).as("rn"), col("t"))
    val args = (0 until n).map(i => s"ts[i+$i]").mkString(", ")
    val grams = base.filter(size(col("ts")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ts) - $n), i -> xxhash64($args))"))
        .as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + 1).as("rn"), col("h"))
    val dupH = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val covered = grams.join(dupH, "h")
      .select(col("doc_id"), explode(sequence(col("rn"), col("rn") + (n - 1))).as("rn"))
      .distinct()
    val kept = tok.join(covered, Seq("doc_id", "rn"), "left_anti")
    val keptAgg = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(array_sort(collect_list(struct(col("rn"), col("t")))),
        x => x.getField("t")), " ").as("cleaned_text"))
    tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_covered"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Decontamination with a Bloom-filter pre-filter — the form that holds
    * when the benchmark suite itself is too large to broadcast as an exact
    * set. The benchmark shingle hashes are aggregated into ONE serialized
    * Bloom sketch (Spark's own BloomFilterAggregate — the sketch behind
    * runtime join filters); only that sketch reaches the driver (the same
    * contract as the k-means model). The corpus scan probes the sketch as
    * a foldable codegen predicate, so ~all clean shingles die inside the
    * scan; the exact semi-join that removes Bloom false positives then
    * runs on the few survivors — unhinted, like [[decontaminate]]: a
    * bench set too big to broadcast exactly is the premise of this
    * variant, so forcing the verify join to broadcast it would undo the
    * point. Output ≡ [[decontaminate]] exactly — verified by the same
    * DuckDB oracle.
    */
  def decontaminateBloom(s: SparkSession, d: String, n: Int = 8,
                         expectedItems: Long = 1L << 20): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val bench = shingleHashes(docs.filter(col("source") === "src0"), n)
      .select(col("h")).distinct()
    val sketch = bench
      .agg(graft.plans.GraftFunctions.bloomAgg(col("h"), expectedItems, expectedItems * 8)
        .as("bf"))
      .head().getAs[Array[Byte]](0)
    val corpus = shingleHashes(docs.filter(col("source") =!= "src0"), n)
      .filter(graft.plans.GraftFunctions.bloomContains(lit(sketch), col("h")))
    // count ≡ count_distinct here for the same reason as [[decontaminate]]
    // (per-doc-distinct h) — one exchange fewer on the survivors.
    corpus.join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve: for each coverage target (50/90/95/99 %
    * of token OCCURRENCES), the smallest frequency-ranked vocabulary that
    * reaches it — the statistic that sizes a tokenizer's vocab against a
    * corpus. The full token-count table is corpus-vocabulary-sized, so
    * the cumulative window runs only over the top-`headN` head (a
    * TakeOrdered, never a global sort): coverage targets ≤99 % live in
    * the head by Zipf, while the long tail contributes only to the exact
    * `total`, which is a plain aggregate. Threshold comparisons are pure
    * integer (`100·cum ≥ pct·total`) — no float boundary to disagree on.
    */
  def vocabCoverage(s: SparkSession, d: String, headN: Int = 10000): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
      .filter(length(col("t")) > 0)
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("tot"))
    val rankW = Window.orderBy(col("n").desc, col("t"))
    val head = counts.orderBy(col("n").desc, col("t")).limit(headN)
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        rankW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pcts = Seq(50, 90, 95, 99)
    val firstHit = Window.partitionBy(col("pct")).orderBy(col("rn"))
    head.crossJoin(total)
      .crossJoin(s.range(1).select(
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct")))
      .filter(col("cum") * 100 >= col("pct") * col("tot"))
      .withColumn("hit", row_number().over(firstHit))
      .filter(col("hit") === 1)
      .select(col("pct"), col("rn").as("vocab_size"), col("cum").as("covered"),
        round(col("cum").cast("double") / col("tot"), 4).as("coverage"))
      .orderBy("pct")
  }

  /** Rare-bigram novelty score: per document, the share of its adjacent
    * token pairs whose CORPUS-wide frequency is ≤ `rareMax` — high-share
    * documents are novel (or noise), low-share ones formulaic; both tails
    * are standard training-mix filters. Per-mille is floored from exact
    * integer counts, so the score is engine-exact. Shape: one bigram
    * stream (hashes only — strings never shuffle), one hash-agg for the
    * frequency table, one shuffle join back on the hash, one per-doc agg;
    * everything partial-aggregates map-side.
    */
  def novelty(s: SparkSession, d: String, rareMax: Long = 2): DataFrame = {
    // row-local bigram stream (round-5 de-windowing; see lmScore)
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    val bi = Tables.documents(s, d)
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> xxhash64(ts[i-1], ts[i]))"))
        .as("h"))
    val freq = bi.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    bi.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        floor(col("n_rare") * 1000.0 / col("n_bigrams")).as("rare_pm"))
      .orderBy("doc_id")
  }

  /** Temperature-adjusted source mixing (the multilingual/multi-domain
    * rebalance: sample source i ∝ p_i^τ at τ = 0.5): per-source raw token
    * share, the √-damped mixture weight, and the expected token budget
    * under that mixture. √p is computed once per SOURCE (|sources| rows,
    * post-aggregation), quantized to a 1e-6-grid BIGINT — IEEE sqrt is
    * exactly rounded in every engine, so the grid values (and therefore
    * every downstream ratio) are bit-identical cross-engine; the weight
    * normalization sums those integers exactly.
    */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.documents(s, d)
      .select(col("source"), size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tokens"))
      .withColumn("sq", round(sqrt(col("tokens").cast("double")) * 1e6).cast("long"))
    val all = Window.partitionBy()
    agg
      .withColumn("tot", sum(col("tokens")).over(all))
      .withColumn("sqtot", sum(col("sq")).over(all))
      .select(col("source"), col("tokens"),
        round(col("tokens").cast("double") / col("tot"), 4).as("share"),
        round(col("sq").cast("double") / col("sqtot"), 4).as("temp_weight"),
        floor(col("sq").cast("double") * col("tot") / col("sqtot")).as("expected_tokens"))
      .orderBy("source")
  }

  /** Overlapping document chunking (the RAG / context-window ingestion
    * step): fixed `chunk`-token windows every `stride` tokens, emitting
    * the chunk text, its start offset and its true length. Pure row-local
    * array ops (split → sequence-explode → slice → join): no shuffle at
    * all beyond the output sort — at 100 TB this runs entirely inside the
    * scan, and the ~chunk/stride× output expansion is the operator's
    * intrinsic cost, not a plan artifact. Complements q47 (which packs
    * offsets for training); this materializes retrieval units.
    */
  def chunkDocuments(s: SparkSession, d: String,
                     chunk: Int = 64, stride: Int = 48): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(stride))).as("st"))
      .select(col("doc_id"), col("st").cast("long").as("start"),
        array_join(slice(col("toks"), col("st"), lit(chunk)), " ").as("chunk_text"),
        least(size(col("toks")) - col("st") + 1, lit(chunk)).cast("long").as("n_tokens"))
      .orderBy("doc_id", "start")
  }

  /** Per-document bigram-LM likelihood score (the CCNet-style "does this
    * text look like the corpus" filter, without the transcendental): for
    * each adjacent pair (w1,w2) the conditional probability
    * p = count(w1,w2) / count(w1,·) is floored onto a parts-per-million
    * integer grid, and a document scores the floor-mean of its bigrams'
    * ppm values. Low scorers are out-of-distribution (or noise), high
    * scorers formulaic — the same two-tailed mix filter as q74, but
    * model-based rather than rarity-based. All arithmetic is exact
    * integer (DECIMAL for the ppm product), so the score is engine-exact.
    *
    * Shape: one bigram stream (64-bit hashes — strings never shuffle),
    * TWO frequency tables off the same stream (pair counts and
    * left-context counts, both map-side partial-agg'd), two hash joins
    * back, one per-doc agg. Every stage is linear in corpus size.
    */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    // ROW-LOCAL bigram stream (the shinglesOf shape): the first form's
    // posexplode → per-doc lead WINDOW shuffled and sorted the whole
    // token stream before any model work — at the 5 M-doc point that
    // sort was a co-lead cost of every lm-family query (q81/q120/q121).
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    val bi = Tables.documents(s, d)
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(xxhash64(ts[i-1]) AS h1, xxhash64(ts[i-1], ts[i]) AS h2))"))
        .as("b"))
      .select(col("doc_id"), col("b.h1").as("h1"), col("b.h2").as("h2"))
    val pairFreq = bi.groupBy(col("h2")).agg(count(lit(1)).as("c2"))
    val leftFreq = bi.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    // The frequency tables grow with the VOCABULARY (the synthetic scale
    // corpus multiplies it per replica), so their joins back must stay
    // SPILLABLE: without the hint, AQE's SMJ→SHJ conversion — keyed on
    // COMPRESSED shuffle bytes, which long hashes beat by 3-5× — built
    // 32 concurrent unspillable hash maps and starved the executor pool
    // at the 5 M-doc point (round-5 measurement). A sort-merge join
    // sorts-and-spills; its cost tracks corpus size, never box RAM.
    bi.join(pairFreq.hint("merge"), "h2").join(leftFreq.hint("merge"), "h1")
      .select(col("doc_id"),
        floor(col("c2").cast("decimal(38,0)") * 1000000 / col("c1"))
          .cast("long").as("ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("sum_ppm").cast("decimal(38,0)") / col("n_bigrams"))
          .cast("long").as("lm_ppm"))
      .orderBy("doc_id")
  }

  /** Reference-trained trigram LM with stupid backoff (the full CCNet
    * shape q81 approximates): n-gram counts come from the REFERENCE
    * sources only (`refSources` — the curated in-domain slice), and every
    * document is scored against that model, so unseen trigrams genuinely
    * back off: p = c123/c12 when the trigram was seen in-reference, else
    * α·c23/c2 from the bigram model, else 0 — all on the same exact
    * integer ppm grid as q81 (α as a percent, still no floating point,
    * engine-exact). Self-scored corpora make backoff vacuous (every
    * observed n-gram has count ≥ 1); training on a slice is what turns
    * this into a real out-of-domain filter.
    *
    * Shape: one lead-window pass builds bigram+trigram streams; THREE
    * frequency tables (trigram, bigram — probed twice: context and
    * backoff — and left-unigram), all hashed 64-bit so strings never
    * shuffle, all map-side partial-agg'd and vocabulary-sized; four hash
    * joins back; one per-doc agg. Linear in corpus size; the reference
    * filter prunes the count side before any shuffle.
    */
  def trigramScore(s: SparkSession, d: String,
                   refSources: Seq[String] = (0 to 4).map(i => s"src$i"),
                   alphaPct: Int = 40): DataFrame = {
    // ROW-LOCAL n-gram streams (the shinglesOf shape — the lead-window
    // form shuffled and sorted the token stream; see lmScore)
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), ts.as("ts"))
    val bi = base.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS t, ts[i] AS t1))"))
        .as("b"))
      .select(col("doc_id"), col("source"), col("b.t").as("t"), col("b.t1").as("t1"))
    val tri = base.filter(size(col("ts")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(ts) - 2), i -> struct(ts[i-1] AS t, ts[i] AS t1, ts[i+1] AS t2))"))
        .as("b"))
      .select(col("doc_id"), col("source"),
        col("b.t").as("t"), col("b.t1").as("t1"), col("b.t2").as("t2"))
    val isRef = col("source").isin(refSources: _*)
    val rt = tri.filter(isRef)
      .groupBy(xxhash64(col("t"), col("t1"), col("t2")).as("h123"))
      .agg(count(lit(1)).as("c123"))
    val r12 = bi.filter(isRef)
      .groupBy(xxhash64(col("t"), col("t1")).as("h12"))
      .agg(count(lit(1)).as("c12"))
    val r1 = bi.filter(isRef)
      .groupBy(xxhash64(col("t")).as("h1")).agg(count(lit(1)).as("c1"))
    val scored = tri.select(col("doc_id"),
        xxhash64(col("t"), col("t1"), col("t2")).as("h123"),
        xxhash64(col("t"), col("t1")).as("h12"),
        xxhash64(col("t1"), col("t2")).as("h23"),
        xxhash64(col("t1")).as("h2"))
      // model tables grow with the REFERENCE vocabulary — spillable
      // sort-merge joins, never AQE's unspillable hash builds (the q81
      // 5 M-doc lesson; see lmScore)
      .join(rt.hint("merge"), Seq("h123"), "left")
      .join(r12.hint("merge"), Seq("h12"), "left")
      .join(r12.select(col("h12").as("h23"), col("c12").as("c23")).hint("merge"), Seq("h23"), "left")
      .join(r1.select(col("h1").as("h2"), col("c1").as("c2")).hint("merge"), Seq("h2"), "left")
    val ppm = when(col("c123").isNotNull,
        floor(col("c123").cast("decimal(38,0)") * 1000000 / col("c12")))
      .when(col("c23").isNotNull,
        floor(col("c23").cast("decimal(38,0)") * 1000000 * alphaPct /
          (col("c2") * 100)))
      .otherwise(lit(0L)).cast("long")
    scored.select(col("doc_id"), ppm.as("ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("ppm")).as("sp"))
      .select(col("doc_id"), col("n_trigrams"),
        floor(col("sp").cast("decimal(38,0)") / col("n_trigrams"))
          .cast("long").as("lm3_ppm"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster size histogram: for each exact-duplicate cluster
    * size, how many clusters have it and how many documents (and how many
    * would be REMOVED by keep-one dedup). The one-line corpus diagnostic
    * that says whether duplication lives in a few giant clusters (crawl
    * boilerplate — cheap to kill) or a long tail of pairs (expensive).
    * Two cheap aggs over the q50 exchange; output is ≤ max-cluster-size
    * rows.
    */
  def dupHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_removable"))
      .orderBy("sz")

  /** Source mixture report: per-source doc/token counts, token share, and
    * the resampling weight that would flatten the mix to uniform
    * (weight = target-tokens-per-source / actual-tokens). The windows run
    * on the post-aggregation frame (|sources| rows), so the single
    * unpartitioned window is a driver-sized frame, not a data shuffle.
    */
  def sourceMix(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.documents(s, d)
      .select(col("source"), size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
    val all = Window.partitionBy()
    agg
      .withColumn("total", sum(col("tokens")).over(all).cast("double"))
      .withColumn("n_sources", count(lit(1)).over(all))
      .select(col("source"), col("n_docs"), col("tokens"),
        round(col("tokens") / col("total"), 4).as("share"),
        round(col("total") / col("n_sources") / col("tokens"), 4).as("up_weight"))
      .orderBy("source")
  }

  /** MATERIALIZE the τ=0.5 temperature mix (q75 computes the weights;
    * this applies them): each document is replicated
    * n = ⌊w⌋ + [u < frac(w)] times, where w = expected/actual tokens for
    * its source and u is a 16-bit uniform from the doc_id's md5 — the
    * standard deterministic stochastic-rounding resample, reproducible
    * across engines, executors and re-runs. All tests are exact-integer
    * cross-multiplications on DECIMAL(38,0) (w = num/den never evaluated
    * as a float: ⌊w⌋ = num div den, the frac test is u·den < rem·65536),
    * so the DuckDB mirror replicates every copy decision bit-for-bit.
    *
    * Plan shape: one token-count agg builds the |sources|-row weight
    * table (broadcast — provably bounded by source cardinality), one
    * row-local sequence-explode emits the copies. No corpus shuffle at
    * all; output expansion ≈ Σw is the operator's intrinsic cost.
    */
  def applyMix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val agg = Tables.documents(s, d)
      .select(col("source"), size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tokens"))
      .withColumn("sq", round(sqrt(col("tokens").cast("double")) * 1e6).cast("long"))
    val all = Window.partitionBy()
    val weights = agg
      .withColumn("tot", sum(col("tokens")).over(all))
      .withColumn("sqtot", sum(col("sq")).over(all))
      .select(col("source"),
        (col("sq").cast(dec) * col("tot").cast(dec)).as("num"),
        (col("sqtot").cast(dec) * col("tokens").cast(dec)).as("den"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").as("u16"))
      .join(weights, "source")
      .withColumn("n_copies",
        expr("num div den") +
          when(col("u16").cast(dec) * col("den") < (col("num") % col("den")) * lit(65536).cast(dec), 1L)
          .otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** Per-source document cap (crawl curation: no domain may contribute
    * more than `k` documents, keeping its longest). Routed through the
    * library's bounded-heap TopKPerKey operator rather than a window:
    * map-side partials cap each partition's contribution at k rows per
    * source BEFORE the shuffle, so a pathological domain holding half the
    * corpus moves k rows, not its whole skewed partition — the window
    * row_number() plan would sort and shuffle every row of that domain.
    */
  def sourceCap(s: SparkSession, d: String, k: Int = 50): DataFrame =
    graft.plans.TopK.perKey(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
      keyCols = Seq("source"),
      sortCols = Seq(("n_chars", false), ("doc_id", true)),
      k = k)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rnk"))
      .orderBy("source", "rnk")

  /** Deterministic train/val/test split (~90/5/5) by the first md5 byte
    * of doc_id — row-local, RNG-free, identical across engines,
    * executors and re-runs (the property a training pipeline needs so a
    * re-materialized corpus never leaks val docs into train). Reports
    * per (split, source) doc and token counts — the split manifest.
    * One scan, one |splits×sources|-row aggregate.
    */
  def splitCorpus(s: SparkSession, d: String): DataFrame = {
    val u8 = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
      .cast("long")
    Tables.documents(s, d)
      .select(col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"),
        when(u8 < 230, "train").when(u8 < 243, "val").otherwise("test").as("split"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy("split", "source")
  }

  /** Deterministic per-source UNIFORM k-sample (reservoir-equivalent):
    * rank docs within each source by the md5 of their id (a uniform
    * permutation independent of any data attribute) and keep the first
    * `k`. Routed through the bounded-heap TopKPerKey operator, so each
    * map partition ships at most k rows per source — the distributed
    * reservoir without reservoir state. Complements [[sourceCap]]
    * (biased to longest) and q67 (corpus-level md5 predicate).
    */
  def groupSample(s: SparkSession, d: String, k: Int = 20): DataFrame =
    graft.plans.TopK.perKey(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h")),
      keyCols = Seq("source"),
      sortCols = Seq(("h", true), ("doc_id", true)),
      k = k)
      .select(col("source"), col("doc_id"), col("rnk"))
      .orderBy("source", "rnk")

  /** Exact inverse-CDF quantiles (type-1: smallest value whose cumulative
    * count reaches ⌈q·n⌉) of `n_chars` per source, computed on the
    * VALUE-HISTOGRAM: groupBy (source, value) first, then one cumulative
    * window over distinct values only. The shuffle carries
    * |sources| × |distinct values| rows — corpus-size-independent for any
    * bounded discrete domain — where `percentile()` (q15) sorts every raw
    * row. Thresholds compare cross-multiplied integers (cum·100 ≥ 99·n ⟺
    * cum ≥ ⌈0.99·n⌉), so the DuckDB mirror is exact by construction.
    */
  def histQuantiles(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(
        min(when(col("cum") * 2 >= col("total"), col("n_chars"))).as("p50"),
        min(when(col("cum") * 10 >= col("total") * 9, col("n_chars"))).as("p90"),
        min(when(col("cum") * 100 >= col("total") * 99, col("n_chars"))).as("p99"),
        max(col("total")).as("n_docs"))
      .orderBy("source")
  }

  /** Per-doc fluency proxy used by the selection operators below:
    * integer-ppm stopword rate (floor(n_stop·10⁶ / n_tokens)) — exact
    * on both engines (the repo's integer-ppm convention; both sides
    * compute the identical double division then floor).
    */
  private[graft] def stopwordPpm(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
    tok
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("t").isin(TextAnalysis.stopwords: _*), 1)).as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("n_stop") * lit(1000000L) / col("n_tokens")).as("score_ppm"))
  }

  /** Token-budget corpus selection: rank documents by a quality proxy
    * (stopword ppm desc — more function words ≈ more natural prose; tie
    * doc_id) and keep the prefix whose CUMULATIVE token count fits the
    * budget — here half the corpus token mass, the "train on your best
    * half" cut. The greedy-by-score prefix is how curation pipelines
    * spend a fixed token budget.
    *
    * Scale shape: the running total comes from [[PrefixSum]] — a
    * range-partitioned parallel scan — NOT from `sum over (order by …)`,
    * whose empty-partitionBy window would drag the full corpus through
    * one task. The budget itself is a 1-row aggregate (max of the
    * running total = total mass) cross-joined into the plan (the q44
    * convention): one DAG, no driver round-trip.
    */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val scored = stopwordPpm(s, d)
    val cum = PrefixSum.withRunningTotal(
      scored,
      Seq(col("score_ppm").desc, col("doc_id").asc),
      col("n_tokens"),
      "cum_tokens")
    val budget = cum.agg(floor(max(col("cum_tokens")) / 2).as("budget"))
    cum
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .select("doc_id", "n_tokens", "score_ppm", "cum_tokens")
      .orderBy("doc_id")
  }

  /** Per-source score calibration: a scorer's raw distribution shifts
    * across sources (web text scores lower than books on any fluency
    * proxy), so selecting a GLOBAL top quantile starves whole sources.
    * The standard fix is quantile normalization — replace each doc's raw
    * score with its within-source percentile, then select the top
    * `keep` fraction OF EACH SOURCE on the calibrated scale.
    *
    * Scale shape: exact percent_rank WITHOUT sorting the corpus — the
    * q91 histogram rewrite applied to a window rank. percent_rank is a
    * pure function of (#strictly-below, n−1), both computable from the
    * (source, score) value histogram: one partial-agg'd shuffle of
    * |sources|×|distinct ppm scores| rows, a window over that
    * corpus-size-independent histogram, and a join back that AQE
    * broadcasts from its measured size. The DuckDB oracle runs the naive
    * `percent_rank() over (partition by source order by score)` — same
    * answer, different algorithm, which is the point.
    */
  def sourceCalibration(s: SparkSession, d: String, keep: Double = 0.25): DataFrame = {
    val scored = stopwordPpm(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
    val hist = scored
      .groupBy(col("source"), col("score_ppm"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("score_ppm"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      // docs strictly below this score = cum − cnt; percent_rank ties all
      // share the group's min rank, exactly this
      .select(col("source"), col("score_ppm"),
        when(col("total") === 1, lit(0.0))
          .otherwise(
            round((col("cum") - col("cnt")).cast("double") / (col("total") - 1), 4))
          .as("pr"))
    scored
      .join(ranked, Seq("source", "score_ppm"))
      .filter(col("pr") >= round(lit(1.0) - lit(keep), 4))
      .select("doc_id", "source", "score_ppm", "pr")
      .orderBy("doc_id")
  }

  /** DSIR-style importance-weighted data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every POOL document by how much more likely its hashed-bigram
    * features are under the TARGET domain's distribution than under the
    * pool's own — log w(doc) = Σ_b n_doc(b)·(ln p̂(b) − ln q̂(b)) — and
    * keep the top-N. The target here is one curated source
    * (`targetSource`); the pool is everything else.
    *
    * Features are bigrams hashed into `nBuckets` buckets (md5-prefix mod,
    * the engine's cross-engine hash convention), so BOTH feature
    * distributions are `nBuckets`-row tables regardless of corpus size —
    * add-1 smoothed. Per-bucket log-ratios are quantized to ppm LONGs
    * (round(·1e6)), so each document's weight is an EXACT integer sum:
    * no cross-engine float-summation-order risk (the q81/q89 integer-ppm
    * convention); ln is evaluated once per bucket on identical double
    * inputs in both engines.
    *
    * Scale shape: bigram hashing is row-local; the corpus is read
    * exactly TWICE — one pass aggregates both distributions as
    * conditional counts of a single bucket groupBy (model-sized output,
    * lineage-truncated so totals and scores read 4096 materialized rows,
    * not re-runs of the scan), one pass computes per-(doc,bucket) counts
    * for pool docs; the score join's build side is ≤ nBuckets rows
    * (unhinted — AQE broadcasts it from measured size); the final
    * per-doc sum is one more partial-agg'd shuffle. Nothing grows with
    * vocabulary. (The first cut expressed the model side as separate
    * target/pool/total aggregates — five consumers of the tokenize+hash
    * subtree, which Spark correctly re-executed per consumer: 434 s at
    * the 5 M-doc point, vs ~2 scans' worth after this rewrite.)
    */
  def dsirSelect(s: SparkSession, d: String, targetSource: String = "src0",
                 nBuckets: Int = 4096, topN: Int = 50): DataFrame = {
    GraftFunctions.register(s)
    val ts = TextFunctions.tokens(col("text"))
    val occ = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, size(ts)-1), i -> concat(element_at(ts, i), ' ', element_at(ts, i+1)))"))
          .as("bg"))
      .select(col("doc_id"), col("source"),
        // ONE hash per bigram OCCURRENCE — the plan's hottest loop, so the
        // convention runs as the native Md5PrefixLong (bit-identical to
        // conv(substring(md5(bg),1,6),16,10), spec-asserted; no hex
        // string / substring / re-parse per row)
        (GraftFunctions.md5Prefix(col("bg"), 6) % nBuckets).as("b"))
    // BOTH feature distributions in ONE corpus pass: per-bucket target
    // and pool occurrence counts as two conditional aggregates (the q22
    // shape) — the first cut aggregated target buckets, pool buckets and
    // their totals as three separate consumers of the tokenize+hash
    // subtree, and Spark (correctly) re-ran that subtree per consumer:
    // 3× the md5 work, measured 434 s at the 5 M-doc point. The model
    // side is now nBuckets rows from one scan; totals are a 1-row agg OF
    // those rows (q44 convention), never another corpus read.
    // ≤ nBuckets rows — model-sized; truncating its lineage pins the one
    // corpus scan behind it, so the two consumers below (totals, scores)
    // read 4096 materialized rows instead of re-running the scan each
    val bucketStats = occ
      .groupBy(col("b"))
      .agg(count(when(col("source") === targetSource, 1)).as("tc"),
        count(when(col("source") =!= targetSource, 1)).as("rc"))
      .truncated
    val totals = bucketStats.agg(
      sum(col("tc")).cast("double").as("t_tot"),
      sum(col("rc")).cast("double").as("r_tot"))
    // every pool bucket gets a score; target-only buckets never appear
    // in a pool document, so rc >= 1 is the complete key set
    val scores = bucketStats
      .filter(col("rc") > 0)
      .crossJoin(totals)
      .select(col("b"),
        round((log((col("tc") + lit(1.0)) / (col("t_tot") + nBuckets)) -
          log((col("rc") + lit(1.0)) / (col("r_tot") + nBuckets))) * 1e6)
          .cast("long").as("lr_ppm"))
    // scoring pass: the second (and last) corpus read — pool docs only.
    // w(doc) = Σ_b n_doc(b)·lr(b) is LINEAR over bigram occurrences, so
    // score each occurrence via the (AQE-broadcast) nBuckets-row map and
    // partial-agg straight to per-doc sums: a doc's bigrams are
    // contiguous in its scan partition, so the map-side combine emits
    // ~one row per doc and the only shuffle here carries |docs| rows.
    // (The first cut grouped by (doc, bucket) first — a shuffle of
    // ~|occurrences| rows that exists in the paper's notation but not in
    // the arithmetic; it was the measured bottleneck at the 5 M-doc
    // point.)
    occ.filter(col("source") =!= targetSource)
      .join(scores, "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("lr_ppm")).as("w_ppm"))
      .orderBy(col("w_ppm").desc, col("doc_id"))
      .limit(topN)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): within each source, split documents into head / middle /
    * tail TERCILES of the corpus-LM likelihood (q81's lm_ppm — CCNet
    * buckets on LM perplexity per language; source plays the language's
    * role here), the standard pre-filter that keeps head+middle and
    * drops the tail.
    *
    * Tercile boundaries use q111's histogram rewrite — the per-source
    * rank runs over the (source, lm_ppm) VALUE histogram (≤ |sources| ×
    * 10⁶-grid rows, model-sized), never the corpus, so there is no
    * per-source window whose ~|sources| partitions would serialize a
    * 100 TB scan. Tie handling is percent-rank's (ties share the min
    * rank ⇒ one bucket per VALUE), and the tercile tests are EXACT
    * integer comparisons — `3·(docs strictly above) < n−1` — so no
    * rounding ever decides a boundary. Assignment is a broadcast-sized
    * join back; the corpus-side cost is q81's pass + one hash agg.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    val scored = lmScore(s, d).select(col("doc_id"), col("lm_ppm"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
    val hist = scored.groupBy(col("source"), col("lm_ppm"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("lm_ppm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("lm_ppm"),
        when(col("total") === 1 ||
            lit(3) * (col("cum") - col("cnt")) < col("total") - 1, "head")
          .when(lit(3) * (col("cum") - col("cnt")) < lit(2) * (col("total") - 1), "middle")
          .otherwise("tail").as("bucket"))
    scored.join(marked, Seq("source", "lm_ppm"))
      .select(col("doc_id"), col("source"), col("lm_ppm"), col("bucket"))
      .orderBy("doc_id")
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "Doremi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * simplified to a static proxy loss): domains whose documents the
    * corpus bigram LM finds hard (high excess loss over the global mean)
    * get their mixture weight multiplicatively boosted each round, then
    * renormalized and smoothed toward uniform — the principled
    * "upweight what the proxy model struggles with" counterpart of q75's
    * popularity-damped mix and q114's per-document DSIR selector.
    *
    * Engine-exact discipline (the q78 GD convention): per-doc loss =
    * 10⁶ − q81's lm_ppm (already an exact integer); per-domain and
    * global losses are floor-means; the multiplicative-weights update
    * uses the LINEARIZED factor 10⁶ + ⌊η·excess⌋ (no `exp`, whose
    * last-ulp rounding differs between engines) with floor-division
    * renormalization and uniform smoothing, all in positive-LONG
    * arithmetic (max intermediate ~1.5e18 < 2⁶³) — a generated DuckDB
    * mirror replays the iterations bit-for-bit.
    *
    * Scale shape: ONE corpus pass (q81's linear pipeline) feeds a
    * per-source partial-agg'd count/sum; only |domains| rows ever reach
    * the driver, and the k iterations are model-sized arithmetic — at
    * 100 TB the cost is exactly one lmScore pass.
    */
  def doremiMix(s: SparkSession, d: String, iters: Int = 3,
                etaPct: Int = 50, smoothPct: Int = 10): DataFrame = {
    import s.implicits._
    val perDoc = lmScore(s, d)
      .select(col("doc_id"), (lit(1000000L) - col("lm_ppm")).as("loss"))
    val dom = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(perDoc, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("loss")).as("sl"))
      .collect() // |domains| rows — model-sized, the q78 convention
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nAll = dom.map(_._2).sum
    val slAll = dom.map(_._3).sum
    val base = slAll / nAll // global floor-mean loss (all positive)
    val nd = dom.length
    val excess = dom.map { case (src, n, sl) => (src, math.max(0L, sl / n - base)) }
    var w = excess.map(_ => 1000000L / nd)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    for (it <- 1 to iters) {
      val m = w.zip(excess).map { case (wd, (_, ex)) =>
        wd * (1000000L + etaPct * ex / 100L)
      }
      val tot = m.sum
      w = m.map(md => (100L - smoothPct) * (md * 1000000L / tot) / 100L +
        smoothPct * 1000000L / (100L * nd))
      excess.indices.foreach { i =>
        out += ((it, excess(i)._1, excess(i)._2, w(i)))
      }
    }
    out.toSeq.toDF("iter", "source", "excess_ppm", "weight_ppm")
      .orderBy("iter", "source")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): draw `n` documents
    * with inclusion probability proportional to a quality weight, in
    * ONE pass — key_i = u_i^(1/w_i), keep the top n keys. Ranking by
    * ln(u)/w is the same order (ln is monotone), avoids pow underflow,
    * and is what this implementation uses. The uniform u is derived
    * from md5(doc_id) (the q114 cross-engine hash convention), so the
    * "random" sample is reproducible, replayable on retry, and
    * oracle-checkable — exactly what a curation pipeline wants from a
    * sampling stage it may have to re-run.
    *
    * Scale shape: one narrow corpus scan computing (w, key) row-locally,
    * then TakeOrdered(n) — no shuffle of the corpus, driver receives n
    * rows. The key is quantized to an exact integer (×10⁹, the repo's
    * integer-ppm convention) BEFORE ranking so selection boundaries are
    * bit-identical across engines.
    */
  def weightedSample(s: SparkSession, d: String, n: Int = 100): DataFrame = {
    GraftFunctions.register(s)
    val scored = stopwordPpm(s, d) // doc_id, n_tokens, score_ppm
    scored
      .select(col("doc_id"),
        (col("score_ppm") + lit(1L)).as("w_ppm"),
        // u ∈ (0, 1]: 24 md5 bits + 1 over 2^24 — never 0, so ln(u) is finite
        ((GraftFunctions.md5Prefix(col("doc_id").cast("string"), 6)
          + lit(1L)) / lit(16777216.0)).as("u"))
      .select(col("doc_id"), col("w_ppm"),
        round(log(col("u")) / col("w_ppm") * lit(1e9)).cast("long").as("key_e9"))
      .orderBy(col("key_e9").desc, col("doc_id"))
      .limit(n)
  }

  /** Span-level contamination report — the forensic companion to
    * [[decontaminate]]: q59 answers "WHICH documents overlap the
    * benchmark"; this answers "on WHAT text and WHERE", naming each
    * shared `n`-gram with its first position and occurrence count per
    * document. That's the artifact a curation review actually reads
    * (and the input to span-level excision, which drops the span but
    * keeps the document).
    *
    * Scale shape: identical to q59 — two corpus token scans, the
    * benchmark side collapses to its distinct gram set (real benchmark
    * suites are MBs; AQE broadcasts it from measured size, unhinted —
    * the q59 lesson), and the join output is contamination-sized, not
    * corpus-sized. Gram TEXT rides the join key only here, where the
    * report needs it; q59's bulk flagging path stays on 8-byte hashes.
    */
  def contaminationSpans(s: SparkSession, d: String, n: Int = 8): DataFrame = {
    val docs = Tables.documents(s, d)
    // merge hint: THIS bench set is corpus-DERIVED (the src0 slice), so
    // it grows with the corpus and may not broadcast — see
    // [[contaminationSpansAgainst]] for why that forces sort-merge.
    contaminationSpansAgainst(s,
      pool = docs.filter(col("source") =!= "src0"),
      bench = docs.filter(col("source") === "src0"),
      n = n, benchGrowsWithCorpus = true)
  }

  /** [[contaminationSpans]] in its DEPLOYMENT regime, as a registry
    * query: the SAME report, but the benchmark is fed as an explicit
    * BOUNDED relation (here the src0 slice standing in for a real
    * MB-sized eval suite — a deployment passes its own table to
    * [[contaminationSpansAgainst]]). No merge hint rides the bench
    * side, so AQE broadcasts its gram set from measured size and pass
    * A is a map-side join: the pool is scanned, never exchanged. The
    * no-SortMergeJoin final plan is spec-pinned on this registry path
    * (CorpusSelectionSpec); SCALE.md records the regime 9.6× linear
    * at 50 M docs vs the hinted sort-merge's 12.7×.
    * Output is bit-identical to [[contaminationSpans]] — it shares
    * q118's oracle.
    */
  def contaminationBounded(s: SparkSession, d: String, n: Int = 8): DataFrame = {
    val docs = Tables.documents(s, d)
    contaminationSpansAgainst(s,
      pool = docs.filter(col("source") =!= "src0"),
      bench = docs.filter(col("source") === "src0"),
      n = n) // benchGrowsWithCorpus stays false: the bounded regime
  }

  /** [[contaminationSpans]] against an EXPLICIT benchmark table — the
    * deployment form: a real eval suite is its own (MB-sized) corpus,
    * not a slice of the training pool. With
    * `benchGrowsWithCorpus = false` (the default here) the bench gram
    * set carries no join hint: AQE broadcasts it from measured size and
    * pass A becomes a map-side semi-join — the pool is SCANNED, never
    * shuffled, so cost tracks the corpus scan alone (the regime the
    * q118 50 M super-linear analysis predicts; SCALE.md records the
    * measurement). Set it true when the bench side scales with the
    * corpus (the registry query's synthetic src0 slice): a grows-with-
    * corpus side must sort-merge — at 5 M docs AQE's SMJ→SHJ conversion
    * on the unhinted form built 32 concurrent unspillable string-keyed
    * maps and OOM'd (round-5 measurement).
    */
  def contaminationSpansAgainst(s: SparkSession, pool: DataFrame,
                                bench: DataFrame, n: Int = 8,
                                benchGrowsWithCorpus: Boolean = false): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ts) - $n), i -> concat_ws(' ', slice(ts, i + 1, $n)))"))
        .as(Seq("pos", "gram")))
    // gram text is hashed away BEFORE any exchange: (doc_id, pos, gh) is
    // ~26 bytes/row vs ~90 with the ~60-byte gram string, and the merge
    // join's sort spill carries the same ratio. The first cut shuffled
    // the text (it rode along "for the report") — at the 50 M-doc point
    // that exchange + its sort spill exceeded 119 GB of scratch and died
    // on ENOSPC (round-6 measurement). The report's text is recovered in
    // pass B below, over matched docs only.
    def gramHashes(df: DataFrame): DataFrame = grams(df)
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gh"))
    // Membership on the 8-byte gram HASH (the q59 convention): never the
    // string — string keys are what made the round-5 SHJ maps unspillable.
    val benchGh = gramHashes(bench).select(col("gh")).distinct()
    val benchSide = if (benchGrowsWithCorpus) benchGh.hint("merge") else benchGh
    // Pass A: which (doc, position) spans are contaminated — hashes +
    // coordinates, never text. With a bounded bench this is a broadcast
    // map-side join (zero pool-side exchange); grows-with-corpus benches
    // pay the sort-merge.
    val hits = gramHashes(pool).join(benchSide, "gh")
      .select(col("doc_id"), col("pos"))
    // Pass B: re-extract grams for the CONTAMINATED docs only (the
    // semi-join set is contamination-sized — AQE broadcasts it from
    // measured size) and attach text by (doc, position): exact, and
    // every shuffle here is hit-set-sized.
    val hitDocs = hits.select(col("doc_id")).distinct()
    grams(pool.join(hitDocs, Seq("doc_id"), "left_semi"))
      .join(hits, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(min(col("pos")).as("first_pos"), count(lit(1)).as("n_occ"))
      .orderBy("doc_id", "gram")
  }

  /** Epoch-deterministic training-order manifest: assign every document
    * to a loader shard and a position within it — the "global shuffle"
    * a distributed data loader consumes, without any RNG state. The
    * permutation key is md5(epoch ':' doc_id) (the q114 cross-engine
    * hash convention), so epoch e+1 is a fresh full reshuffle of epoch
    * e, every worker can recompute its own shard independently, and a
    * preempted job resumes the exact same order.
    *
    * Scale shape: ONE narrow exchange (hash by shard) + a within-shard
    * sort. Per-shard sequential numbering is the parallel unit by
    * design — `nShards` is the loader's world size (hundreds to
    * thousands at 100 TB), so no task ever serializes the corpus; the
    * shard sort is the loader-side order the manifest exists to define.
    */
  def shuffleShards(s: SparkSession, d: String, nShards: Int = 8,
                    epoch: Int = 0): DataFrame = {
    GraftFunctions.register(s)
    val skey = GraftFunctions.md5Prefix(
      concat_ws(":", lit(epoch), col("doc_id")), 12)
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), skey.as("skey"))
      .withColumn("shard", (col("skey") % nShards).cast("int"))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
      .orderBy("shard", "pos")
  }
}
