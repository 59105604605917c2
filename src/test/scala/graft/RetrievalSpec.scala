package graft

import graft.operators.{CorpusOps, Dedup, Retrieval}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the retrieval/selection family: BM25 (q113), the persisted
  * inverted index probe (q113b), DSIR importance selection (q114) and
  * the cross-source near-dup matrix (q115).
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._
  private val sf = SharedSpark.sf

  test("q113/q113b: index probe returns the identical BM25 table") {
    val brute = Retrieval.bm25(spark, sf).as[(Long, Double)].collect().toSeq
    val probed = Retrieval.bm25Indexed(spark, sf).as[(Long, Double)].collect().toSeq
    assert(brute.nonEmpty)
    assert(brute == probed) // same rows, same order: layout, not semantics
  }

  test("q113b: the postings scan is bucket-pruned to <= |terms| buckets") {
    Retrieval.buildIndex(spark, sf)
    val plan = Retrieval.bm25Indexed(spark, sf)
      .queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in plan:\n$plan")
    assert(m.get.group(1).toInt <= Retrieval.DefaultTerms.size)
    assert(m.get.group(2).toInt == Retrieval.Buckets)
  }

  test("q113: scores decrease down the ranking and respect the doc_id tiebreak") {
    val rows = Retrieval.bm25(spark, sf).as[(Long, Double)].collect()
    assert(rows.length == 10)
    rows.sliding(2).foreach { case Array((ida, sa), (idb, sb)) =>
      assert(sa > sb || (sa == sb && ida < idb))
    }
    assert(rows.forall(_._2 > 0.0)) // Lucene idf is always positive
  }

  test("q114 dsirSelect: pool-only output, exact integer weights, deterministic") {
    val sel = CorpusOps.dsirSelect(spark, sf)
    val rows = sel.as[(Long, Long)].collect()
    assert(rows.length == 50)
    // selection pool excludes the target source by definition
    val srcs = sel.join(Tables.documents(spark, sf), "doc_id")
      .select("source").distinct().as[String].collect()
    assert(!srcs.contains("src0"))
    // integer-ppm weights are exactly reproducible across runs
    val again = CorpusOps.dsirSelect(spark, sf).as[(Long, Long)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("q114 dsirSelect: the scoring plan reads the corpus exactly once") {
    // The model side (bucket stats → totals → scores) is lineage-truncated
    // at 4096 rows, so the only corpus scan left in the final plan is the
    // pool scoring pass — the first cut re-executed the tokenize+md5
    // subtree once per model consumer (3 extra scans, 434 s at 5 M docs).
    val plan = CorpusOps.dsirSelect(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans:\n$plan")
    assert(plan.contains("ExistingRDD"), // the materialized bucket stats
      s"model side should read the truncated RDD:\n$plan")
  }

  test("q114 dsirSelect: a target-heavier pool doc outranks a target-lighter one") {
    // The top-ranked doc's bigram buckets must look more src0-like than
    // the bottom-ranked one's under the same model — sanity of sign.
    val rows = CorpusOps.dsirSelect(spark, sf, topN = 1000)
      .as[(Long, Long)].collect()
    assert(rows.head._2 > rows.last._2)
  }

  test("q115 sourceOverlap: counts partition the verified pair set, unordered keys") {
    val m = Dedup.sourceOverlap(spark, sf).as[(String, String, Long)].collect()
    assert(m.nonEmpty)
    m.foreach { case (a, b, n) => assert(a <= b); assert(n > 0) }
    assert(m.map(_._3).sum == Dedup.minhashLsh(spark, sf).count())
  }

  test("q116 rrfFusion: rrf reconstructs from the arm ranks; ordered; deterministic") {
    val rows = Retrieval.rrfFusion(spark, sf)
      .as[(Long, Double, Int, Int)].collect()
    assert(rows.length == 10)
    rows.foreach { case (_, rrf, lrank, drank) =>
      assert(lrank > 0 || drank > 0) // came from at least one arm
      val expect = (if (lrank > 0) 1.0 / (lrank + 60) else 0.0) +
        (if (drank > 0) 1.0 / (drank + 60) else 0.0)
      assert(math.abs(rrf - expect) < 5e-7) // output rounded to 6 dp
    }
    rows.sliding(2).foreach { case Array((ida, ra, _, _), (idb, rb, _, _)) =>
      assert(ra > rb || (ra == rb && ida < idb))
    }
    val again = Retrieval.rrfFusion(spark, sf).as[(Long, Double, Int, Int)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("q116 rrfFusion: a doc surfaced by both arms beats a single-arm doc of the same best rank") {
    // The fusion property RRF exists for: agreement across systems is
    // evidence. 1/(r+60) + 1/(r'+60) > 1/(r+60) for any finite r'.
    val rows = Retrieval.rrfFusion(spark, sf, topN = 200)
      .as[(Long, Double, Int, Int)].collect()
    val both = rows.filter(r => r._3 > 0 && r._4 > 0)
    val lexOnly = rows.filter(r => r._3 > 0 && r._4 == 0)
    both.foreach { b =>
      lexOnly.filter(_._3 == b._3).foreach(l => assert(b._2 > l._2))
    }
  }

  // ---- maintained-index lifecycle (append / retry / compact) ----

  private def stageDir(docs: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_invidx_spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // scratch corpus: its warehouse lineage can never be swept once the
    // temp dir vanishes — purge it at JVM exit
    WarehouseGC.registerScratchPurge(spark, dir)
    dir
  }

  private def corpus100 =
    Tables.documents(spark, sf).select("doc_id", "text").filter(col("doc_id") < 100)

  private def batch(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    ids.map(i => (i, s"hash merge hash window doc$i filler merge")).toDF("doc_id", "text")

  // lifecycle probes answer over whatever the index HOLDS (corpus ∪
  // appended batches) — the registry-contract validation would rebuild
  // an appended-to index away, which is a different test (below)
  private def probeRows(d: String) =
    Retrieval.bm25Indexed(spark, d, validateCorpus = false)
      .as[(Long, Double)].collect().toSeq

  test("append: probe reflects the folded batch with updated df/N/avgdl") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    val b1 = batch(9000L to 9004L)
    Retrieval.append(spark, b1, d)
    // reference: brute BM25 over a dir holding corpus ∪ batch
    val ref = Retrieval.bm25(spark, stageDir(corpus100.union(b1)))
      .as[(Long, Double)].collect().toSeq
    assert(probeRows(d) == ref)
  }

  test("append: re-appending a committed batch is a no-op (idempotent)") {
    val d = stageDir(corpus100)
    val b1 = batch(9100L to 9104L)
    Retrieval.append(spark, b1, d)
    val r1 = probeRows(d)
    Retrieval.append(spark, b1, d)
    assert(probeRows(d) == r1)
  }

  test("append: a crashed segment (no marker) is retried, not skipped, and not double-counted") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    val b1 = batch(9200L to 9204L)
    // simulate the crash window: data rows landed, marker did not
    Retrieval.writeSegment(spark, b1, d, "append", marker = false)
    // the retry must re-append (docs are uncommitted) …
    Retrieval.append(spark, b1, d)
    // … and the probe must fold the duplicate rows away
    val ref = Retrieval.bm25(spark, stageDir(corpus100.union(b1)))
      .as[(Long, Double)].collect().toSeq
    assert(probeRows(d) == ref)
  }

  test("reattach: a complete index surviving catalog loss is re-registered, not rebuilt") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    Retrieval.append(spark, batch(9400L to 9404L), d)
    val before = probeRows(d)
    // Simulate a JVM restart: the in-memory catalog forgets the tables
    // but their warehouse dirs survive. DROP on these MANAGED tables
    // deletes data, so stash the dirs aside and restore them after.
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val stash = java.nio.file.Files.createTempDirectory("graft_invidx_stash")
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val walk = java.nio.file.Files.walk(from)
      try walk.forEach { p =>
        val q = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
        else java.nio.file.Files.copy(p, q)
      } finally walk.close()
    }
    val kinds = Seq("postings", "stats", "committed")
    kinds.foreach(k => copyDir(
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d)),
      stash.resolve(Retrieval.tbl(k, d))))
    kinds.foreach(k => spark.sql(s"DROP TABLE `${Retrieval.tbl(k, d)}`"))
    kinds.foreach(k => copyDir(
      stash.resolve(Retrieval.tbl(k, d)),
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d))))
    // The probe must REATTACH: a rebuild would re-derive the index from
    // the corpus dir alone and LOSE the appended batch — identical
    // probe output (appended docs included) proves no rebuild happened.
    assert(probeRows(d) == before)
    kinds.foreach { k =>
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(Retrieval.tbl(k, d)))
      assert(meta.tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
    }
    // Bucket pruning survives reattachment (the DDL mirrors the layout;
    // assert on the real probe plan — a bare filter+count would let
    // DisableUnnecessaryBucketedScan turn the bucketed scan off).
    val plan = Retrieval.bm25Indexed(spark, d, validateCorpus = false)
      .queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in reattached plan:\n$plan")
    assert(m.get.group(1).toInt <= Retrieval.DefaultTerms.size)
    // Append and compact still work on the reattached EXTERNAL tables
    // (compact's DROP leaves an external dir behind — the staging
    // rename must clear it instead of colliding).
    val b2 = batch(9410L to 9414L)
    Retrieval.append(spark, b2, d)
    Retrieval.compact(spark, d)
    val ref = Retrieval.bm25(
      spark, stageDir(corpus100.union(batch(9400L to 9404L)).union(b2)))
      .as[(Long, Double)].collect().toSeq
    assert(probeRows(d) == ref)
  }

  test("compact: fewer posting files, identical probe, crash-window retry still safe across it") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    Retrieval.append(spark, batch(9300L to 9304L), d)
    Retrieval.append(spark, batch(9310L to 9314L), d)
    val b3 = batch(9320L to 9324L)
    Retrieval.writeSegment(spark, b3, d, "append", marker = false) // crash
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    def nFiles = {
      val p = java.nio.file.Paths.get(wh, Retrieval.tbl("postings", d))
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(q => q.getFileName.toString.startsWith("part-")).count()
      finally walk.close()
    }
    val before = nFiles
    Retrieval.compact(spark, d) // sweeps the orphan segment into the base
    assert(nFiles < before)
    Retrieval.append(spark, b3, d) // the retry, AFTER compaction
    val ref = Retrieval.bm25(
      spark, stageDir(corpus100.union(batch(9300L to 9304L))
        .union(batch(9310L to 9314L)).union(b3)))
      .as[(Long, Double)].collect().toSeq
    assert(probeRows(d) == ref)
  }

  test("compactIfNeeded: rewrites a fragmented index once, then no-ops without touching a file") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    val whp = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    def postingFiles: Seq[(String, Long, Long)] = {
      val p = java.nio.file.Paths.get(whp, Retrieval.tbl("postings", d))
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(q => q.getFileName.toString.startsWith("part-"))
          .map(q => (p.relativize(q).toString, java.nio.file.Files.size(q),
            java.nio.file.Files.getLastModifiedTime(q).toMillis))
          .toSeq.sortBy(_._1)
      } finally walk.close()
    }
    // fragment past one-file-per-bucket so the first call must rewrite
    var i = 0
    while (postingFiles.size <= Retrieval.Buckets && i < 40) {
      Retrieval.append(spark, batch((9500L + 5 * i) to (9504L + 5 * i)), d)
      i += 1
    }
    assert(postingFiles.size > Retrieval.Buckets)
    val probe1 = probeRows(d)
    assert(Retrieval.compactIfNeeded(spark, d)) // fragmented → rewrite
    assert(postingFiles.size <= Retrieval.Buckets) // one file per bucket
    // the no-op guarantee needs EVERY kind at <= Buckets data files
    // after a compact — if any kind ever exceeded it, each Bench
    // invocation would silently re-trigger the full rewrite forever
    // (round-8 advice). stats is unbucketed and coalesced to ONE file;
    // the bucketed kinds land at most one file per bucket.
    def dataFilesOf(kind: String): Long = {
      val p = java.nio.file.Paths.get(whp, Retrieval.tbl(kind, d))
      val walk = java.nio.file.Files.list(p)
      try walk.filter(q => {
        val n = q.getFileName.toString
        java.nio.file.Files.isRegularFile(q) &&
          !n.startsWith("_") && !n.startsWith(".")
      }).count()
      finally walk.close()
    }
    assert(dataFilesOf("stats") === 1L)
    assert(dataFilesOf("postings") <= Retrieval.Buckets)
    assert(dataFilesOf("committed") <= Retrieval.Buckets)
    // already compact → no-op: returns false and no file is rewritten
    // (the Bench pre-pass runs this every invocation — idempotence is
    // what keeps it cheap at 50 M docs)
    val snap = postingFiles
    assert(!Retrieval.compactIfNeeded(spark, d))
    assert(postingFiles == snap)
    assert(probeRows(d) == probe1)
  }

  // ---- registry contract / reattach validation (the round-6 q113b
  // regression class: a reattached index is a COMPLETE build over SOME
  // doc set; corpus EQUIVALENCE is a separate check) ----

  private def wh =
    java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally walk.close()
  }

  test("registry contract: an appended-to index is rebuilt corpus-only; the lifecycle probe keeps the appends") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    val b1 = batch(9500L to 9504L)
    Retrieval.append(spark, b1, d)
    // the LIFECYCLE probe answers over corpus ∪ batch …
    val lifecycle = probeRows(d)
    val refWithBatch = Retrieval.bm25(spark, stageDir(corpus100.union(b1)))
      .as[(Long, Double)].collect().toSeq
    assert(lifecycle == refWithBatch)
    // … while the REGISTRY probe (q113b's path) must detect that the
    // index holds docs the corpus does not, clear-and-rebuild, and
    // answer ≡ BM25 over the current corpus alone — the exact failure
    // round 6 shipped when a lifecycle tool polluted the shared index.
    val registry = Retrieval.bm25Indexed(spark, d)
      .as[(Long, Double)].collect().toSeq
    val refCorpusOnly = Retrieval.bm25(spark, d)
      .as[(Long, Double)].collect().toSeq
    assert(registry == refCorpusOnly)
    assert(registry != refWithBatch) // the batch really changed the answer
    // the rebuild is memoized: a second registry probe is index-only and
    // still corpus-exact
    assert(Retrieval.bm25Indexed(spark, d)
      .as[(Long, Double)].collect().toSeq == refCorpusOnly)
  }

  test("stamp roll: a REGENERATED documents.parquet rolls the index namespace and forces a rebuild") {
    val docsA = corpus100
    val d = stageDir(docsA)
    Retrieval.buildIndex(spark, d)
    val tblA = Retrieval.tbl("postings", d)
    val probeA = probeRows(d)
    // regenerate the corpus in place (the driver does this between
    // rounds): different rows, same path
    val docsB = corpus100.union(batch(9600L to 9619L))
    docsB.write.mode("overwrite").parquet(s"$d/documents.parquet")
    // the namespace must roll — a fresh JVM could otherwise reattach
    // the index built over the OLD rows (round-6 What's-wrong #2)
    assert(Retrieval.tbl("postings", d) != tblA)
    val probeB = probeRows(d) // plain buildIndex path: must rebuild
    val refB = Retrieval.bm25(spark, stageDir(docsB))
      .as[(Long, Double)].collect().toSeq
    assert(probeB == refB)
    assert(probeB != probeA)
  }

  test("reattach: a bucket-count mismatch in the layout meta falls back to rebuild, not wrong pruning") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    Retrieval.append(spark, batch(9700L to 9704L), d)
    val kinds = Seq("postings", "stats", "committed")
    // simulate a JVM restart (stash dirs across the managed DROP) …
    val stash = java.nio.file.Files.createTempDirectory("graft_invidx_meta_stash")
    kinds.foreach(k => copyTree(
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d)),
      stash.resolve(Retrieval.tbl(k, d))))
    kinds.foreach(k => spark.sql(s"DROP TABLE `${Retrieval.tbl(k, d)}`"))
    kinds.foreach(k => copyTree(
      stash.resolve(Retrieval.tbl(k, d)),
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d))))
    // … under an index whose sentinel says it was written with a
    // DIFFERENT bucket count (source constant changed between JVMs): a
    // reattach would declare the wrong count in its DDL and bucket
    // pruning would silently return wrong probe rows.
    val sentinel = Persisted(spark, Persisted.Inverted, d).sentinel(kinds)
    java.nio.file.Files.writeString(sentinel, java.nio.file.Files.readString(sentinel)
      .replace(s"buckets=${Retrieval.Buckets}\n", s"buckets=${Retrieval.Buckets * 2}\n"))
    // reattach must REFUSE → clear-and-rebuild from the corpus: the
    // appended batch is gone (rebuild cost, never wrong rows)
    val probed = probeRows(d)
    val refCorpusOnly = Retrieval.bm25(spark, d)
      .as[(Long, Double)].collect().toSeq
    assert(probed == refCorpusOnly)
  }

  test("crash recovery: a compaction interrupted between DROP and RENAME survives a JVM restart") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    val b1 = batch(9800L to 9804L)
    Retrieval.append(spark, b1, d)
    val expected = probeRows(d) // corpus ∪ batch
    val kinds = Seq("postings", "stats", "committed")
    val stash = java.nio.file.Files.createTempDirectory("graft_invidx_crash_stash")
    kinds.foreach(k => copyTree(
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d)),
      stash.resolve(Retrieval.tbl(k, d))))
    kinds.foreach(k => spark.sql(s"DROP TABLE `${Retrieval.tbl(k, d)}`"))
    // Crash state, fresh-JVM edition: catalog knows NOTHING (the DROPs
    // above cleared it); on disk, stats+committed completed their swap
    // but postings died between its DROP and RENAME — only the staged
    // `postings_compacting` dir (with _SUCCESS) survives. Before the
    // filesystem-level recovery existed, reattach declared the index
    // incomplete and silently rebuilt, discarding the appended batch.
    kinds.filter(_ != "postings").foreach(k => copyTree(
      stash.resolve(Retrieval.tbl(k, d)),
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d))))
    copyTree(stash.resolve(Retrieval.tbl("postings", d)),
      java.nio.file.Paths.get(wh, Retrieval.tbl("postings", d) + "_compacting"))
    assert(probeRows(d) == expected) // recovery promoted the staged dir
    // and the index is fully operational: append + compact still work
    val b2 = batch(9810L to 9814L)
    Retrieval.append(spark, b2, d)
    Retrieval.compact(spark, d)
    val ref = Retrieval.bm25(spark, stageDir(corpus100.union(b1).union(b2)))
      .as[(Long, Double)].collect().toSeq
    assert(probeRows(d) == ref)
  }

  test("crash recovery: a STALE staging dir never beats a current main table") {
    val d = stageDir(corpus100)
    Retrieval.buildIndex(spark, d)
    val b1 = batch(9900L to 9904L)
    Retrieval.append(spark, b1, d)
    val expected = probeRows(d)
    val kinds = Seq("postings", "stats", "committed")
    val stash = java.nio.file.Files.createTempDirectory("graft_invidx_stale_stash")
    kinds.foreach(k => copyTree(
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d)),
      stash.resolve(Retrieval.tbl(k, d))))
    kinds.foreach(k => spark.sql(s"DROP TABLE `${Retrieval.tbl(k, d)}`"))
    kinds.foreach(k => copyTree(
      stash.resolve(Retrieval.tbl(k, d)),
      java.nio.file.Paths.get(wh, Retrieval.tbl(k, d))))
    // a stale staging dir from a compaction that crashed BEFORE its
    // DROP (main still carries _SUCCESS ⇒ main is current — it may hold
    // batches appended after that crash; promoting the stale copy would
    // silently lose them)
    copyTree(stash.resolve(Retrieval.tbl("postings", d)),
      java.nio.file.Paths.get(wh, Retrieval.tbl("postings", d) + "_compacting"))
    assert(probeRows(d) == expected) // main won
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      wh, Retrieval.tbl("postings", d) + "_compacting"))) // staging cleaned
  }
}
