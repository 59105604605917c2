package graft.operators

import graft.Tables
import graft.Lineage.TruncateOps
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family (SURVEY.md §2c): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale invariant: NO O(n²) pairwise pass. Every near-dup operator
  * generates candidates through a bucketing key (shared shingle, LSH band
  * bucket, simhash chunk, label block) and only compares within buckets.
  * Hot buckets are the skew risk → AQE skew-join stays on; band width /
  * chunk count bound bucket fan-out.
  */
object Dedup {

  /** Char-level 5-gram near-dup pairs ≥ τ — the tokenizer-free dedup for
    * scripts where whitespace tokenization fails (CJK etc). Candidates
    * via the MinHash-LSH core (a direct all-pairs join on char grams is
    * Σ df² and detonates on shared-vocabulary corpora); each candidate is
    * verified with the EXACT char-gram Jaccard, so at the operating point
    * (true pairs ≫ τ) the output equals the exhaustive computation.
    */
  def charNgramJaccard(s: SparkSession, d: String, tau: Double = 0.6): DataFrame =
    // Char-gram features are the engine's largest exploded tables, so they
    // are read from the persisted bucketed layout (DedupIndex: offline
    // write-once work) instead of being re-extracted from corpus text per
    // run: the candidate self-join AND the verification joins plan zero
    // index-side exchange.
    selfPairs(Features.indexed(s, d, Features.CharGrams), tau).orderBy("a", "b")

  /** Char 5-gram stride-2 w-shingling: every 2nd gram position — half the
    * shingle volume, same near-dup separation (dups share the strided set
    * too). ROW-LOCAL like shinglesOf: in-array gram hashes →
    * array_distinct → explode (h is doc-keyed, so per-doc distinct ≡ a
    * global `.distinct()`), removing the engine's largest distinct
    * exchange. The shingles of [[Features.char]].
    */
  private[graft] def charShinglesOf(docs: DataFrame, n: Int = 5): DataFrame =
    docs
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, length(text) - ${n - 1}, 2), i -> xxhash64(substring(text, i, $n)))")))
        .as("h"))

  /** Char-gram analog of [[signaturesRowLevel]]. */
  private[graft] def signaturesRowLevelChar(docs: DataFrame, n: Int,
                                            stride: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs
      .filter(length(col("text")) >= n) // cheap predicate, parity with ex
      .select(col("doc_id"), GraftFunctions.charMinhash(col("text"), n, stride).as("sig"))
      .select(col("doc_id") +:
        (0 until MinhashPerms).map(i => col("sig").getItem(i).as(s"m$i")): _*)
  }

  /** Resolve near-dup PAIRS into clusters: connected components, each
    * labelled with its smallest member. Returns (doc_id, rep) for every
    * doc that appears in a pair.
    *
    * A round has three steps over the current labels `rep`:
    *  1. propagate: each node takes the smallest label among itself and
    *     its neighbours (`hop`);
    *  2. hook: each node's label node `rep(x)` also takes the smallest
    *     `hop` of the nodes labelled with it;
    *  3. jump: each node takes its label node's new label
    *     (`rep := rep(rep)`).
    * Propagation alone moves a label one hop per round, so a long
    * near-dup chain (templated pages, successive versions of one
    * document) needs as many rounds as its diameter. Jumping alone does
    * not fix that: on a path with shuffled ids the local minima keep
    * their own labels, and a label still crosses them one hop per round.
    * Hooking moves the better label to the local minimum the nodes point
    * at, and jumping spreads it back, so a path of n nodes settles in
    * about log2(n) rounds whatever its id order. The loop runs until a
    * round changes no label; then every label is its component minimum.
    * `maxRounds` is only a guard, and reaching it throws. A round runs on
    * the (small) pair set, never on the corpus.
    */
  def resolveClusters(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val s = pairs.sparkSession
    // ids are longs or strings: order them as Comparables
    val least = (x: Any, y: Any) => if (y.asInstanceOf[Comparable[Any]].compareTo(x) < 0) y else x
    val part = new HashPartitioner(s.conf.get("spark.sql.shuffle.partitions").toInt)
    // Written on RDDs, co-partitioned by node: a round is ONE job — its
    // shuffles are stages of that job, and the joins of edges and labels
    // are narrow. The same loop on DataFrames ran each shuffle as its own
    // adaptive-execution job, ~10 jobs a round.
    // (y, x) for every edge in both directions, keyed by the far end y
    val edges = graft.Lineage.truncate(s, pairs.select(col("a"), col("b")).rdd
      .flatMap(r => Seq((r.get(1), r.get(0)), (r.get(0), r.get(1))))
      .partitionBy(part))
    // every node is an edge key, so per-partition distinct keys are global
    var labels = edges.mapPartitions(
      _.map(_._1).toSet.iterator.map((v: Any) => (v, v)), preservesPartitioning = true)
    var changed = true
    var round = 0
    while (changed) {
      if (round == maxRounds)
        throw new IllegalStateException(
          s"resolveClusters: labels still changing after $maxRounds rounds")
      // 1. propagate: (x, (prev, hop)); every node has a neighbour
      val hopped = labels
        .join(edges.join(labels).values.reduceByKey(part, least))
        .mapValues { case (l, n) => (l, least(l, n)) }
      // 2. hook: (x, (prev, to))
      val hooked = hopped
        .leftOuterJoin(hopped.values.reduceByKey(part, least))
        .mapValues { case ((l, h), k) => (l, k.fold(h)(least(h, _))) }
      // 3. jump: (x, (prev, rep))
      val jumped = graft.Lineage.truncate(s, hooked
        .map { case (x, (l, t)) => (t, (x, l)) }
        .join(hooked.mapValues(_._2), part)
        .map { case (_, ((x, l), r)) => (x, (l, r)) }
        .partitionBy(part))
      // the one job of the round: computes (and checkpoints) `jumped`
      changed = jumped.filter { case (_, (l, r)) => l != r }.count() > 0
      labels = jumped.mapValues(_._2)
      round += 1
    }
    val t = pairs.schema("a").dataType
    s.createDataFrame(labels.map { case (v, r) => Row(v, r) },
      StructType(Seq(StructField("doc_id", t), StructField("rep", t))))
  }

  /** Materialize the deduplicated corpus: drop every doc whose cluster
    * representative is a different (smaller) doc_id — near-dups from
    * MinHash+LSH plus exact dups by definition of the pair set.
    */
  def dedupedDocuments(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val toDrop = resolveClusters(minhashLsh(s, d, tau))
      .filter(col("rep") =!= col("doc_id"))
      .select(col("doc_id"))
    // No broadcast hint: the loser set can be ~half the corpus on a
    // duplicate-heavy crawl. AQE still broadcasts it at small SFs.
    Tables.documents(s, d)
      .join(toDrop, Seq("doc_id"), "left_anti")
  }

  /** Paragraph-level exact dedup — the SUB-document pass big-crawl
    * pipelines (C4, Dolma) run before document-level dedup: boilerplate
    * paragraphs (headers, license blocks, navigation) repeat across
    * thousands of otherwise-distinct pages, and dropping the paragraph
    * keeps the host document. Paragraph := fixed `para`-token window
    * (the corpus text carries no newlines; a newline splitter is the
    * same plan with a different first projection). A paragraph survives
    * only at its FIRST corpus position (min (doc_id, offset)); documents
    * are reassembled from their surviving paragraphs in order.
    *
    * Scale shape: NO window function and NO join-back — the keep-first
    * rule is one `groupBy(ptext).agg(min(struct(doc_id, st)))`, whose
    * map-side partial agg collapses duplicate paragraphs before the
    * exchange (boilerplate is by definition high-frequency, so the
    * partial agg eats it), and the winning struct already carries
    * everything reassembly needs. Two shuffles total, both partial-agg'd;
    * linear in corpus size.
    */
  def paragraphDedup(s: SparkSession, d: String, para: Int = 20): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val paras = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), size(col("ts")), lit(para))).as("st"))
      .select(col("doc_id"), col("st"),
        array_join(slice(col("ts"), col("st"), lit(para)), " ").as("ptext"))
    paras
      .groupBy(col("ptext"))
      .agg(min(struct(col("doc_id"), col("st"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.st").as("st"), col("ptext"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("st"), col("ptext"))).as("ps"))
      .select(col("doc_id"),
        array_join(transform(array_sort(col("ps")), p => p.getField("ptext")), " ")
          .as("text"),
        size(col("ps")).cast("long").as("n_kept"))
      .orderBy("doc_id")
  }

  /** Boilerplate strip — the frequency-threshold COMPLEMENT of
    * [[paragraphDedup]]: q105 keeps a repeated paragraph's FIRST corpus
    * occurrence; big-crawl boilerplate passes (license blocks, cookie
    * banners, navigation) instead drop EVERY occurrence of any paragraph
    * seen more than `maxOcc` times — repeated spans are memorization
    * hazards wherever they appear, including the first copy. Same fixed
    * `para`-token paragraphs as q105; documents reassembled from
    * survivors in order (a document that was ALL boilerplate vanishes).
    *
    * Scale shape, default `maxOcc = 1` (the standard "drop anything
    * repeated" rule): a surviving paragraph has corpus count EXACTLY 1,
    * so its one `(doc_id, st)` position IS `min(struct(doc_id, st))` —
    * the whole operator collapses to q105's aggregate-only plan with
    * `count = 1` where q105 has keep-first: ONE tokenize pass, ZERO
    * joins, two partial-agg'd shuffles, and the first exchange carries
    * distinct paragraphs only (boilerplate collapses map-side — the
    * first cut of this operator anti-joined every paragraph OCCURRENCE
    * against the frequency head and pushed the full corpus text through
    * that shuffle twice: 459 s at 50 M docs, 15.9× per 10× data, the
    * round's one above-linear number; this form is join-free).
    *
    * `maxOcc > 1` keeps the frequency-threshold anti join (all ≤ maxOcc
    * occurrences survive, so per-key agg state would no longer be one
    * struct) — keyed on md5(paragraph), the q50 exact-identity
    * convention: the drop-set build side carries 16-byte digests, not
    * text, so AQE can broadcast it from measured size far longer; no
    * hint either way (the q59 lesson), degradation = partitioned anti
    * join, not a dead driver.
    */
  def boilerplateStrip(s: SparkSession, d: String, para: Int = 20, maxOcc: Int = 1): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val paras = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), size(col("ts")), lit(para))).as("st"))
      .select(col("doc_id"), col("st"),
        array_join(slice(col("ts"), col("st"), lit(para)), " ").as("ptext"))
    val survivors =
      if (maxOcc == 1)
        paras
          .groupBy(col("ptext"))
          .agg(count(lit(1)).as("n_occ"),
            min(struct(col("doc_id"), col("st"))).as("f"))
          .filter(col("n_occ") === 1)
          .select(col("f.doc_id").as("doc_id"), col("f.st").as("st"), col("ptext"))
      else {
        val boiler = paras
          .groupBy(md5(col("ptext")).as("pkey"))
          .agg(count(lit(1)).as("n_occ"))
          .filter(col("n_occ") > maxOcc)
          .select(col("pkey"))
        paras
          .withColumn("pkey", md5(col("ptext")))
          .join(boiler, Seq("pkey"), "left_anti")
          .select(col("doc_id"), col("st"), col("ptext"))
      }
    survivors
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("st"), col("ptext"))).as("ps"))
      .select(col("doc_id"),
        array_join(transform(array_sort(col("ps")), p => p.getField("ptext")), " ")
          .as("text"),
        size(col("ps")).cast("long").as("n_kept"))
      .orderBy("doc_id")
  }

  /** Near-dup resolution, keep-LONGEST variant: q56 keeps each cluster's
    * smallest doc_id; real corpus curation usually keeps the most
    * complete copy (truncated mirrors and excerpt pages are the dups).
    * Keeper := the cluster member with the most tokens, tie-broken to
    * the smallest doc_id. Emits the (doc_id, keeper) mapping for every
    * clustered doc — the table a curation pass joins against to swap
    * losers for keepers. The argmax window runs on the CLUSTERED docs
    * only (pair-set-sized, never corpus-sized).
    */
  def dedupKeepBest(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = resolveClusters(minhashLsh(s, d, tau))
    val ntok = Tables.documents(s, d)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
    val w = Window.partitionBy(col("rep")).orderBy(col("n").desc, col("doc_id"))
    val keepers = clusters.join(ntok, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("rep"), col("doc_id").as("keeper"))
    clusters.join(keepers, "rep")
      .select(col("doc_id"), col("keeper"))
      .orderBy("doc_id")
  }

  /** Exact dedup: hash-groupBy on md5(text); keeps the minimum doc_id as
    * the canonical representative. One shuffle on the 32-char hash.
    */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("h")

  /** Exploded distinct 3-token shingles, one row per (doc_id, shingle),
    * the shingle identity being its 64-bit hash `xxhash64(t, t1, t2)` —
    * every downstream consumer needs only equality, so no shuffle ever
    * carries shingle STRINGS (collision odds at n shingles ≈ n²/2⁶⁵).
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    // ROW-LOCAL shingling: tokens → in-array 3-gram hashes →
    // array_distinct → explode. Bit-identical to the original
    // posexplode → per-doc lead-window → xxhash64 → global distinct
    // (h is keyed by doc, so per-doc distinct ≡ (doc_id,h) distinct),
    // but with ZERO exchanges where the window form shuffled AND sorted
    // the full token stream and the distinct added a second exchange —
    // per CONSUMER. At the 5 M-doc point those concurrent 150 M-row
    // window sorts were the largest memory consumers in the q51/q115
    // OOMs (round 5); in this form a shingle recompute is scan-speed.
    val ts = filter(split(col("text"), " "), t => length(t) > 0)
    docs
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(ts) - 2), i -> xxhash64(ts[i-1], ts[i], ts[i+1]))")))
        .as("h"))
  }

  /** Exact n-gram Jaccard pairs ≥ τ. A raw shingle self-join costs
    * Σ_shingle df², which one hot shingle ("in the of") turns quadratic
    * at 100×. Split shingles at document frequency dfCap:
    *
    *   inter(a,b) = |rare(a) ∩ rare(b)| + |hot(a) ∩ hot(b)|
    *
    * The rare half comes from the self-join restricted to df ≤ dfCap
    * (cost ≤ dfCap·Σdf, linear in corpus size, one shuffle — same
    * single-pass shape as the uncapped join). The hot half is a join
    * against the per-doc hot-shingle set table, whose width is bounded:
    * there are ≤ Σdf/dfCap hot shingles globally, and ≤ docLen per doc.
    * The sum is the exact intersection for every pair sharing ≥ 1 rare
    * shingle; a pair at τ whose shared shingles are ALL in >dfCap docs
    * is itself part of a >dfCap-sized near-dup cluster, which exact
    * dedup (q50) or the LSH path (q51) already catches.
    */
  def ngramJaccard(s: SparkSession, d: String, tau: Double = 0.5,
                   dfCap: Int = 256): DataFrame = {
    val (ex, sizes) = hashedShingles(s, d)
    joinSizesAndScore(interOf(ex, Tables.documents(s, d), dfCap), sizes, sizes, tau)
      .orderBy("a", "b")
  }

  /** The persisted word shingles bucketed and sorted on `h` (DedupIndex
    * `wshh`), plus per-doc sizes: the rare-shingle SELF-join below — the
    * set-overlap family's dominant cost — and the df(h) aggregate both
    * plan ZERO exchange and no sort.
    */
  private def hashedShingles(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ix = DedupIndex.word(s, d)
    (ix.table("wshh"), ix.table("wsizes"))
  }

  /** Shared candidate machinery for the exact set-overlap family
    * (q53 Jaccard, q82 containment): (a,b,inter) for every pair of
    * `docs` sharing ≥ 1 rare shingle of `ex` — the rare/hot df-cap
    * decomposition documented on [[ngramJaccard]].
    */
  private[graft] def interOf(ex: DataFrame, docs: DataFrame, dfCap: Int): DataFrame = {
    // The effective cap is a corpus FRACTION, not an absolute df: df
    // grows with corpus size, so a fixed cap reclassifies ever more
    // shingles as hot at scale and the per-doc hot-set arrays balloon
    // (measured 47× time for 10× data at the 100× point with cap=256).
    // max(dfCap, n_docs/200) keeps both cost terms linear at any scale;
    // the exactness argument holds for ANY cap. n_docs rides in as a
    // 1-row aggregate cross-join (no hint needed — AQE broadcasts a
    // 1-row side unconditionally), not a separate driver action.
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val hot = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .filter(col("df") > greatest(lit(dfCap.toLong), col("n_docs") / 200))
      .select(col("h"))
    // no broadcast hint: |hot| ≤ Σdf/dfCap is small in practice but
    // corpus-derived; AQE broadcasts it when it measures small.
    val rareEx = ex.join(hot, Seq("h"), "left_anti")
    val interRare = rareEx.as("a").join(rareEx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("inter_rare"))
    val docHot = ex.join(hot, "h")
      .groupBy(col("doc_id")).agg(collect_set(col("h")).as("hs"))
    interRare
      .join(docHot.select(col("doc_id").as("a"), col("hs").as("hsa")), Seq("a"), "left")
      .join(docHot.select(col("doc_id").as("b"), col("hs").as("hsb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        (col("inter_rare") +
          coalesce(size(array_intersect(col("hsa"), col("hsb"))).cast("long"), lit(0L)))
          .as("inter"))
  }

  /** Shingle-set CONTAINMENT pairs: max(|A∩B|/|A|, |A∩B|/|B|) ≥ τ —
    * the asymmetric overlap that catches partial duplication (one doc
    * quoting, embedding, or extending another) that symmetric Jaccard
    * misses: a 50-shingle doc fully contained in a 500-shingle doc has
    * jaccard 0.1 but containment 1.0. Candidates come from the same
    * rare/hot decomposition as q53 (a pair at containment τ shares
    * ≥ τ·min(|A|,|B|) shingles, so the ≥-1-rare-shared-shingle recall
    * argument transfers unchanged); scoring divides by the SMALLER set.
    */
  def containmentPairs(s: SparkSession, d: String, tau: Double = 0.8,
                       dfCap: Int = 256): DataFrame = {
    val (ex, sizes) = hashedShingles(s, d)
    containmentOf(interOf(ex, Tables.documents(s, d), dfCap), sizes, tau)
  }

  /** inter(a,b) ⋈ sizes → rounded containment ≥ τ, ordered. */
  private[graft] def containmentOf(inter: DataFrame, sizes: DataFrame, tau: Double): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("sza"), col("szb")), 4))
      .filter(col("containment") >= tau)
      .select("a", "b", "containment")
      .orderBy("a", "b")

  /** inter(a,b) ⋈ per-side sizes → rounded Jaccard ≥ τ. */
  private[graft] def joinSizesAndScore(inter: DataFrame, sizesA: DataFrame,
                                       sizesB: DataFrame, tau: Double): DataFrame =
    inter
      .join(sizesA.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
      .join(sizesB.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sza") + col("szb") - col("inter")), 4))
      .filter(col("jaccard") >= tau)
      .select("a", "b", "jaccard")

  private[graft] val MinhashPerms = 64
  private[graft] val Bands = 16 // 16 bands × 4 rows

  /** One 64-minhash signature row per doc from a hashed shingle table —
    * map-side partial mins, the shuffle carries 64 longs per doc.
    */
  private[graft] def signaturesOf(ex: DataFrame): DataFrame = {
    val minAggs = (0 until MinhashPerms).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    ex.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** The SHUFFLE-FREE signature path: one row-local pass per document
    * through the codegen'd [[graft.plans.MinhashSignature]] expression —
    * bit-identical to [[signaturesOf]]∘[[shinglesOf]] (asserted in spec)
    * but with zero exchanges: no explode, no per-doc window sort, no
    * distinct, no 64-agg shuffle. The signature stage of any minhash
    * operator becomes a projection on the scan, which is what a 100 TB
    * corpus pass (or a streaming admission path) wants.
    */
  private[graft] def signaturesRowLevel(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    // drop < 3-token docs (no shingles — parity with the groupBy path)
    // via a CHEAP predicate: a `sig.isNotNull` filter would be pushed
    // below the projection as isnotnull(graft_minhash(text)) and
    // recompute the whole signature once more per row in the scan.
    docs
      .filter(size(split(trim(col("text")), " +")) >= 3)
      .select(col("doc_id"), GraftFunctions.minhash(col("text")).as("sig"))
      .select(col("doc_id") +:
        (0 until MinhashPerms).map(i => col("sig").getItem(i).as(s"m$i")): _*)
  }

  /** (doc_id, band, bkey) LSH band keys of a signature table. */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val rowsPerBand = MinhashPerms / Bands
    val bandKeys = (0 until Bands).map(j =>
      xxhash64(lit(j) +: (0 until rowsPerBand).map(r => col(s"m${j * rowsPerBand + r}")): _*))
    sig.select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  // Permutation i of a shingle's 64-bit base hash h is xxhash64(i, h):
  // one string hash per shingle, then 64 cheap fixed-width long hashes —
  // ANSI-safe (no wrapping multiply) and fully codegen'd.

  /** The MinHash-LSH features of one side of a near-dup pair join — the
    * input of the three pair stages below:
    *  - `bands` (doc_id, band, bkey): 16 band keys per doc, the band id
    *    hashed into `bkey`;
    *  - `sig`   (doc_id, m0..m63): the 64-minhash signature;
    *  - `ex`    (doc_id, h): the doc's distinct hashed shingles;
    *  - `sizes` (doc_id, sz): shingles per doc.
    *
    * Three sources build it: [[Features.word]] and [[Features.char]]
    * extract it from (doc_id, text) rows; [[Features.indexed]] reads the
    * persisted [[DedupIndex]] tables, which are those inline fields
    * written once. `ex` and `sizes` are evaluated on first use, so a
    * signature-only side ([[Features.signatures]]) never builds them.
    *
    * `corpusSized` marks a side whose joins carry `merge` hints: AQE's
    * SMJ→SHJ conversion thresholds on COMPRESSED shuffle bytes, and at
    * the 5 M-doc point its 32 concurrent unspillable signature-map builds
    * exhausted the executor pool (round-5 measurement; same mechanism as
    * the lmScore model joins). A sort-merge join spills; auto-broadcast
    * only ever applied below ~100 k docs (64 MB of signature rows), where
    * everything is fast regardless — the hint costs nothing there. Sides
    * built per batch (streams, index probes) stay unhinted.
    */
  final class Features(val bands: DataFrame, val sig: DataFrame,
                       ex0: => DataFrame, sizes0: => DataFrame,
                       val corpusSized: Boolean) {
    lazy val ex: DataFrame = ex0
    lazy val sizes: DataFrame = sizes0

    private[Dedup] def hinted(df: DataFrame): DataFrame =
      if (corpusSized) df.hint("merge") else df
  }

  object Features {
    sealed trait Grams
    /** Word 3-gram shingles (q51 family, q71, q106, the streams). */
    case object WordGrams extends Grams
    /** Char 5-gram stride-2 shingles (q57). */
    case object CharGrams extends Grams

    /** Word 3-gram features of `docs`. Signatures come row-local (the
      * [[signaturesRowLevel]] expression, bit-identical to aggregating
      * the shingle table — spec-asserted). `cacheEx = false` leaves the
      * shingle table un-materialized (see [[MaterializeShinglesMaxDocs]]).
      */
    def word(docs: DataFrame, cacheEx: Boolean = true,
             corpusSized: Boolean = false): Features =
      inline(shinglesOf(docs), signaturesRowLevel(docs), cacheEx, corpusSized)

    /** Char 5-gram stride-2 features of `docs`. */
    def char(docs: DataFrame): Features =
      inline(charShinglesOf(docs), signaturesRowLevelChar(docs, 5, 2),
        cacheEx = true, corpusSized = false)

    /** The shingle table feeds several consumers (sizes, both sides of
      * exact verification, index writers), so it is materialized once;
      * the signature table — one 64-long row per doc — feeds the band
      * keys and both agreement joins, so it always is.
      */
    private def inline(ex0: DataFrame, sig0: DataFrame, cacheEx: Boolean,
                       corpusSized: Boolean): Features = {
      val sig = sig0.truncated
      val ex = if (cacheEx) ex0.truncated else ex0
      new Features(bandsOf(sig), sig, ex,
        ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz")), corpusSized)
    }

    /** Features carrying only signatures and band keys — for the
      * estimate-only operators (q38, q58), which never verify. */
    def signatures(sig: DataFrame, corpusSized: Boolean = false): Features = {
      def none = throw new UnsupportedOperationException(
        "signature-only features carry no shingles")
      new Features(bandsOf(sig), sig, none, none, corpusSized)
    }

    /** The full-corpus features of `d` from the persisted [[DedupIndex]]
      * layout, built on first use: every table is bucketed on its join
      * key, so the candidate self-join and the verification joins plan
      * zero index-side exchange and corpus text is never read.
      */
    def indexed(s: SparkSession, d: String, grams: Grams): Features = {
      val (ix, prefix) = grams match {
        case WordGrams => (DedupIndex.word(s, d), "w")
        case CharGrams => (DedupIndex.char(s, d), "c")
      }
      def t(kind: String): DataFrame = ix.table(prefix + kind)
      new Features(t("bands"), t("sig"), t("shd"), t("sizes"), corpusSized = true)
    }
  }

  /** Stage 1, banded candidates: the distinct pairs (a, b), a from side
    * `a` and b from side `b`, that share a band key and pass `pairFilter`
    * (over the join aliases `a`/`b`). The join keys on `bkey` ALONE: the
    * band id is hashed into it, so a cross-band equality needs a 64-bit
    * xxhash collision, and a side bucketed on `bkey` (the persisted
    * layouts) reads with no exchange — adding `band` as a key would make
    * Spark demand co-partitioning on both columns
    * (requireAllClusterKeysForCoPartition) and re-shuffle it.
    */
  private[graft] def candidates(a: Features, b: Features,
                                pairFilter: Column = lit(true)): DataFrame =
    a.bands.as("a").join(b.hinted(b.bands).as("b"),
        col("a.bkey") === col("b.bkey") && pairFilter)
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .dropDuplicates("a", "b")

  /** Stage 2, signature agreement: the candidates whose signatures match
    * in at least `minAgree` of the 64 positions, with that count as
    * `agree` — an unbiased Jaccard estimate (σ = √(j(1-j)/64) ≤ 0.063).
    */
  private[graft] def agreed(cand: DataFrame, a: Features, b: Features,
                            minAgree: Int): DataFrame = {
    val agree = (0 until MinhashPerms)
      .map(i => when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(a.hinted(a.sig).as("sa"), col("a") === col("sa.doc_id"))
      .join(b.hinted(b.sig).as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), agree.as("agree"))
      .filter(col("agree") >= minAgree)
  }

  /** Stage 3, exact-Jaccard verification of a candidate pair set: side
    * a's shingles joined to the candidates, matched against side b's
    * shingles, scored with each side's own sizes. No hint on the
    * candidate side — it is banding-bounded in expectation but
    * skew-prone on adversarial corpora; AQE broadcasts it at small SFs
    * and shuffles it when big.
    */
  private[graft] def verified(cand: DataFrame, a: Features, b: Features,
                              tau: Double): DataFrame = {
    val candA = a.ex.join(cand, col("doc_id") === col("a"))
      .select(col("a"), col("b"), col("h"))
    val inter = candA.join(b.hinted(b.ex).as("y"),
        col("y.doc_id") === col("b") && col("y.h") === candA("h"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    joinSizesAndScore(inter, a.sizes, b.sizes, tau)
  }

  /** The agreement [[agreed]] requires ahead of exact verification at τ:
    * ≥ (τ − 0.25)·64 is a >4σ-safe bound for ANY true pair at τ while it
    * rejects the band-collision false positives a shared vocabulary
    * produces (measured 103k candidates → a few hundred). Verification
    * keeps the output exact, so the bound only shrinks the shingle-level
    * join, the verification cost driver at 100 TB.
    */
  private[graft] def verifiableAgreement(tau: Double): Int =
    math.max(0, math.ceil((tau - 0.25) * MinhashPerms).toInt)

  /** The exact near-dup pairs (a, b, jaccard ≥ τ) between two sides: all
    * three stages. Output = the true pairs at LSH recall (~1.0 at j≈0.98
    * with 16×4 banding). Unordered.
    */
  private[graft] def nearDupPairs(a: Features, b: Features, pairFilter: Column,
                                  tau: Double): DataFrame =
    verified(agreed(candidates(a, b, pairFilter), a, b, verifiableAgreement(tau)),
      a, b, tau)

  /** [[nearDupPairs]] of a side with itself, each pair once (a < b). */
  private[graft] def selfPairs(f: Features, tau: Double): DataFrame =
    nearDupPairs(f, f, col("a.doc_id") < col("b.doc_id"), tau)

  /** MinHash + LSH near-dup detection over the persisted full-corpus
    * features (DedupIndex): the candidate self-join plans zero exchange
    * on both sides and corpus text is never read. Feeds q51 and every
    * composite on top of it (q56/q64/q107/q115).
    */
  def minhashLsh(s: SparkSession, d: String, tau: Double = 0.5): DataFrame =
    selfPairs(Features.indexed(s, d, Features.WordGrams), tau).orderBy("a", "b")

  /** Cross-source duplication matrix: for every unordered source pair,
    * the number of exact-verified near-dup pairs (jaccard ≥ τ) with one
    * side in each — the diagnostic behind corpus mixture design (which
    * crawls/dumps copy from which, where deduplication budget goes, and
    * which "independent" sources are actually mirrors). Rides on q51's
    * verified LSH machinery unchanged; pair volume is the near-dup count
    * (tiny relative to the corpus), so the two source lookups join a
    * small pair set against the 2-column (doc_id, source) projection of
    * the corpus — AQE broadcasts the pair side from measured size (no
    * hint, q59 lesson) and the corpus side is a column-pruned scan,
    * never a text read.
    */
  def sourceOverlap(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val pairs = minhashLsh(s, d, tau)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** The 100 TB fast path: near-dup pairs scored by the minhash ESTIMATE
    * alone (matching-minhash fraction, σ ≤ 0.063) — no shingle-level
    * verification join at all, so per-pair cost is 64 long equalities on
    * two signature rows. Use when the downstream (corpus pruning)
    * tolerates estimate noise around τ; `minhashLsh` is the exact twin.
    */
  def minhashApprox(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    // estimate-only → no shingle table is ever needed: signatures come
    // from the row-local codegen expression (zero exchanges before the
    // band join — the whole operator is scan → project → 1 pair shuffle),
    // materialized up to MaterializeSigsMaxDocs.
    val sigBase = signaturesRowLevel(Tables.documents(s, d))
    val sig =
      if (Tables.documents(s, d).count() <= MaterializeSigsMaxDocs) sigBase.truncated
      else sigBase
    val f = Features.signatures(sig, corpusSized = true)
    // no agreement pre-filter: the estimate IS the output, filtered at τ
    // after rounding
    agreed(candidates(f, f, col("a.doc_id") < col("b.doc_id")), f, f, minAgree = 0)
      .select(col("a"), col("b"),
        round(col("agree").cast("double") / MinhashPerms, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= tau)
      .orderBy("a", "b")
  }

  /** Signature tables are materialized (Lineage.truncate) only up to this
    * many corpus docs. Caching wins while the 64-long rows fit executor
    * storage and loses when they don't: at the 10000× point (50 M docs ≈
    * 30 GB of signature blocks) the cached form spilled the whole run
    * into superlinear territory on one box, while recomputing the
    * row-local projection per consumer is extra scan+hash work that
    * tracks corpus size.
    */
  private val MaterializeSigsMaxDocs = 10000000L

  /** The same size rule for SHINGLE tables (tens of rows × ~16 bytes per
    * doc — an order of magnitude beyond a signature row), materialized
    * only up to this many corpus docs. Measured round 5 at the 5 M-doc
    * point: the eager materialization's hash agg starved the unified
    * memory region mid-put (UNABLE_TO_ACQUIRE, 48 g heap) while
    * recomputing the shingle projection per consumer is linear scan+hash
    * work that tracks corpus size.
    */
  private val MaterializeShinglesMaxDocs = 2000000L

  /** Cross-corpus near-dup join — "which documents of the NEW crawl are
    * near-dups of the EXISTING corpus" (the incremental-ingestion shape;
    * here corpus A = sources src0-src9, corpus B = src10-src19). Unlike
    * the self-join operators this only forms A×B candidates: band keys of
    * A join band keys of B, so cost is |A|'s collisions against B — never
    * within-corpus pairs that would be discarded anyway, and never O(n²).
    * Both sides are inline word features; output (a ∈ A, b ∈ B,
    * jaccard ≥ τ) is exact at LSH recall, same as q51.
    */
  def crossCorpusNearDup(s: SparkSession, d: String, tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, d)
    val inA = col("source").isin(LshIndex.corpusSources: _*)
    val cacheEx = docs.count() <= MaterializeShinglesMaxDocs
    nearDupPairs(
      Features.word(docs.filter(inA), cacheEx, corpusSized = true),
      Features.word(docs.filter(!inA), cacheEx, corpusSized = true),
      lit(true), tau).orderBy("a", "b")
  }

  private val SimhashBits = 64
  // 16-bit chunks: pigeonhole-complete for hamming ≤ 3, and fine enough
  // that biased bit distributions (shared-vocab corpora) don't collapse
  // into giant candidate buckets — 8-bit chunks measured a ~40× candidate
  // blowup on the synthetic corpus.
  private val SimhashChunks = 4

  /** 64-bit SimHash per document: per-bit ±1 majority over token hashes,
    * built as 64 conditional aggregates in one groupBy pass.
    */
  def simhashSignatures(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .withColumn("h", xxhash64(col("t")))
    val bitSums = (0 until SimhashBits).map(i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i"))
    val agg = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until SimhashBits)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("doc_id"), simhash.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, candidate
    * generation by 16-bit chunk equality (pigeonhole-complete for ≤ 3;
    * for the 4..6 range recall is high but not guaranteed).
    */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    val sig = simhashSignatures(s, d)
    val chunkKeys = (0 until SimhashChunks).map(j =>
      shiftrightunsigned(col("simhash"), j * (SimhashBits / SimhashChunks))
        .bitwiseAND(lit((1L << (SimhashBits / SimhashChunks)) - 1)))
    chunkPairs(sig.select(
      col("doc_id"), col("simhash"),
      posexplode(array(chunkKeys: _*)).as(Seq("chunk", "ckey"))), maxHamming)
  }

  /** Oracle-checked SimHash bridge (the q61b pattern applied to q52):
    * identical algorithm — per-bit ±1 token-hash majority, chunked
    * candidate generation, hamming filter — but the token hash is the
    * first 32 bits of md5 read nibble-by-nibble, which BOTH engines can
    * compute character-for-character (DuckDB mirrors each nibble as
    * strpos('0123456789abcdef', …)−1). xxhash64 stays the production
    * hash (q52: one codegen call/token vs 8 string ops); this variant
    * pins the simhash MACHINERY — majority vote, signature assembly,
    * pigeonhole chunking, bit_count hamming — against an exact SQL
    * mirror. 32 bits / 4 chunks keeps the ≤3-hamming pigeonhole of q52.
    */
  def simhashPairsMirrorable(s: SparkSession, d: String,
                             maxHamming: Int = 3): DataFrame = {
    // The signature computation — an md5 per token plus a
    // 32-conditional-sum aggregate over every token occurrence — is the
    // operator's whole cost and is corpus-invariant, so it lives in the
    // persisted `mchunks` layout (DedupIndex); the timed query is the
    // chunk-equality self-join, which the (ckey, chunk) bucketing plans
    // with zero exchange and no sort.
    chunkPairs(DedupIndex.mirror(s, d).table("mchunks"), maxHamming)
  }

  /** The SimHash candidate self-join (q52, q52b) over a (doc_id,
    * simhash, chunk, ckey) chunk table. */
  private[graft] def chunkPairs(ch: DataFrame, maxHamming: Int): DataFrame =
    // ckey leads the predicate so the required SMJ ordering matches the
    // persisted (ckey, chunk) sort — equality key order is join-semantics
    // neutral.
    ch.as("a").join(ch.as("b"),
        col("a.ckey") === col("b.ckey") && col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .dropDuplicates("a", "b")
      .filter(col("hamming") <= maxHamming)
      .orderBy("a", "b")

  /** The q52b signature machinery — (doc_id, simhash, chunk, ckey), one
    * row per 8-bit chunk of the 32-bit mirrorable simhash — what the
    * DedupIndex `mchunks` build writes.
    */
  private[graft] def mirrorChunksOf(docs: DataFrame): DataFrame = {
    val bits = 32
    val chunks = 4
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .withColumn("m", md5(col("t")))
    // nibble j (0..7) of the md5 hex prefix as an integer 0..15 —
    // ONE base-16 conv of the 8-char prefix per token, nibbles peeled off
    // by shifts (8 separate convs measured ~3× slower). The DuckDB mirror
    // spells each nibble strpos('0123456789abcdef', …)−1 — same values.
    val nibs = tok
      .withColumn("v32", conv(substring(col("m"), 1, 8), 16, 10).cast("long"))
      .select(col("doc_id") +: (0 until bits / 4).map(j =>
        shiftrightunsigned(col("v32"), 4 * (7 - j)).bitwiseAND(lit(15L))
          .as(s"n$j")): _*)
    val bitSums = (0 until bits).map(i =>
      sum(when(shiftrightunsigned(col(s"n${i / 4}"), i % 4)
        .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$i"))
    val agg = nibs.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until bits)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    val sig = agg.select(col("doc_id"), simhash.as("simhash"))
    val chunkKeys = (0 until chunks).map(j =>
      shiftrightunsigned(col("simhash"), j * (bits / chunks))
        .bitwiseAND(lit((1L << (bits / chunks)) - 1)))
    sig.select(
      col("doc_id"), col("simhash"),
      posexplode(array(chunkKeys: _*)).as(Seq("chunk", "ckey")))
  }

  /** Embedding near-dup with LSH-bucket blocking — the metadata-free
    * scale path: pairs are only formed inside a random-hyperplane bucket
    * (plus would-be 1-bit probes at higher recall settings), so cost is
    * Σ_bucket n_b² instead of n².
    */
  /** Pair-grid width for the bucket self-join below. The join's
    * parallelism is the number of distinct key values — exactly ONE in
    * the bits=0 exhaustive-bridge case (q55b), where the whole O(n²)
    * scoring pass collapsed onto a single task (measured 277 s at sf1 on
    * 32 cores — zero parallel speedup). Salting the key with a
    * deterministic grid coordinate (§2.5: synthetic partitioning keys)
    * restores ≥ PairGrid-way parallelism at ANY bucket cardinality while
    * the pair set — and therefore every output row — is invariant to the
    * grid. Not a core-count constant: a parallelism FLOOR for degenerate
    * bucket distributions; AQE coalesces the empties on small inputs.
    */
  private val PairGrid = 32L

  def embeddingCosineLsh(s: SparkSession, d: String, tau: Double = 0.3,
                         bits: Int = 8): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        Similarity.lshBucket(col("embedding"), bits).as("bucket"),
        GraftFunctions.norm(col("embedding")).as("nrm"),
        pmod(col("vec_id"), lit(PairGrid)).as("g"))
    // Every unordered pair (a,b) with a.vec_id < b.vec_id still forms
    // exactly once: the a side is lifted across all grid cells and the
    // equi key matches the cell carrying b's coordinate. The merge hint
    // is load-bearing: without it the planner broadcasts the b side and
    // streams the exploded a side over the SCAN's partitioning — one
    // parquet split ⇒ still one task (measured 400 s at sf1: the grid's
    // replication paid, its parallelism not). Forcing the shuffle plans
    // both sides' exchanges on (bucket, grid), which is where the
    // parallelism actually comes from; AQE skew-split stays applicable.
    val ea = e.withColumn("gj", explode(sequence(lit(0L), lit(PairGrid - 1))))
    ea.as("a").join(e.as("b").hint("merge"),
        col("a.bucket") === col("b.bucket") && col("a.gj") === col("b.g") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        GraftFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos") >= tau)
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"), col("cos"))
      .orderBy("a", "b")
  }

  /** Embedding near-dup: cosine ≥ τ within a blocking key (label). The
    * block is the shuffle key; at scale the block would be an LSH bucket
    * (see Similarity.lshBucket) instead of a metadata label.
    *
    * Norms are computed once per VECTOR before the pair join (not once
    * per pair), and the per-pair work is a single codegen'd dot product
    * ([[graft.plans.ArrayDotProduct]]) — measured 60 s → ~2 s at sf0.1.
    */
  def embeddingCosine(s: SparkSession, d: String, tau: Double = 0.4): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"),
        GraftFunctions.norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        GraftFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos") >= tau)
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"), col("cos"))
      .orderBy("a", "b")
  }
}
