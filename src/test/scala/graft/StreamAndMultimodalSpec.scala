package graft

import graft.operators.Multimodal
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamAndMultimodalSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("streaming windowed counts equal the batch equivalent") {
    def assertBatch(d: String): Unit = {
      val streamed = StreamOps.windowedCounts(spark, d)
      val batch = Tables.events(spark, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(streamed.count() === batch.count())
      assert(streamed.exceptAll(batch).count() === 0L)
    }
    assertBatch(sf)
    // a single-file source overwritten in a live JVM: the staged copy the
    // stream reads must follow the new rows
    val t = java.nio.file.Files.createTempDirectory("graft_regen_spec_")
    WarehouseGC.registerScratchPurge(spark, t.toString)
    val events = t.resolve("events.parquet")
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "events.parquet"), events)
      assertBatch(t.toString)
      val tmp = t.resolve("regen").toString
      spark.read.parquet(sf + "/events.parquet").filter(col("event_id") % 3 =!= 0)
        .coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      java.nio.file.Files.move(part, events, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assertBatch(t.toString)
    } finally Persisted.delete(t)
  }

  test("windowed counts are invariant to micro-batch boundaries (trigger pacing)") {
    val oneBatch = StreamOps.windowedCounts(spark, sf)
    // 4 staged files, 1 per trigger → 4 micro-batches of accumulated state
    val paced = StreamOps.windowedCountsPaced(spark, sf, nFiles = 4, maxFilesPerTrigger = 1)
    assert(paced.count() === oneBatch.count())
    assert(paced.exceptAll(oneBatch).count() === 0L)
  }

  test("streaming dedup emits exactly the distinct key set") {
    val streamed = StreamOps.streamDedup(spark, sf)
    val batch = Tables.events(spark, sf).select("user_id", "event_type").distinct()
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0L)
  }

  test("multimodal: binaryMeta byte count equals utf8 length") {
    val bad = Multimodal.binaryMeta(spark, sf)
      .join(Tables.documents(spark, sf),
        col("asset_id") === col("doc_id"))
      .filter(col("n_bytes") =!= col("n_chars"))
    assert(bad.count() === 0L) // ascii corpus: bytes == chars
  }

  test("multimodal: feature extraction is batched, typed, deterministic") {
    val feats = Multimodal.extractFeatures(Multimodal.assets(spark, sf))
    val row = feats.orderBy("asset_id").collect().head
    assert(row.getSeq[Double](1).length === Multimodal.StubDecoder.FeatureDim)
    val again = Multimodal.extractFeatures(Multimodal.assets(spark, sf))
      .orderBy("asset_id").collect().head
    assert(row.getSeq[Double](1) === again.getSeq[Double](1))
  }

  test("multimodal: perceptual features = 64-bin histogram summing to token count") {
    val feats = Multimodal.perceptualFeatures(Multimodal.assets(spark, sf))
    val byId = feats.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(byId.values.forall(_.length === Multimodal.PerceptualDim))
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    toks.foreach { case (id, n) => assert(byId(id).sum.toInt === n) }
  }

  test("multimodal: perceptual near-dup emits only tau-pairs, finds every clone at cos 1.0") {
    val out = Multimodal.perceptualNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, c) => a < b && c >= 0.96 })
    // constructed corpus: every doc cloned at id+10000 — identical
    // payloads give identical features → identical bucket (no LSH miss
    // possible) and cos exactly 1; recall on clone pairs must be total
    val base = Multimodal.assets(spark, sf).limit(50)
    val cloned = base.unionByName(
      base.select((col("asset_id") + 10000L).as("asset_id"),
        col("payload"), col("meta")))
    val pairs = Multimodal.perceptualPairsFrom(spark, cloned, 0.96, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = pairs.map(t => ((t._1, t._2), t._3)).toMap
    val ids = base.select("asset_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      assert(found.get((id, id + 10000L)).contains(1.0),
        s"clone pair ($id, ${id + 10000L}) missing or not cos 1.0")
    }
  }

  test("multimodal: audio fingerprint pairs identical 128-byte prefixes, rejects a 1-byte edit") {
    import spark.implicits._
    val base = ("x" * 20 + " " + "yy " * 40).take(200) // > 8 frames of 16 bytes
    val corpus = Seq(
      (1L, base),                       // original
      (2L, base),                       // exact dup → pairs with 1
      (3L, base.take(128)),             // truncated AFTER the fingerprint span → still pairs
      (4L, "z" + base.drop(1)),         // frame-0 byte edit → different profile
      (5L, base.take(100))              // truncated INSIDE the span → fewer frames, no pair
    ).toDF("asset_id", "payload")
      .select(col("asset_id"), col("payload").cast("binary").as("payload"))
    val got = graft.operators.Multimodal.audioPairsFrom(corpus, maxL1 = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the tolerant dial admits the small-perturbation pair: a 1-byte
    // change of |Δ| = ('z'-'x') shifts one frame energy by exactly that
    val tol = graft.operators.Multimodal.audioPairsFrom(corpus, maxL1 = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(tol.contains((1L, 4L)))
  }

  test("multimodal: audio tolerant dial's recall GUARANTEE — total for <= 1 divergent frame, none for 2+") {
    import spark.implicits._
    // The leave-one-out banding contract (round-4 ask, spec-named):
    //   recall 1 at maxL1 = 0 (identical profiles share EVERY band) and
    //   for any SINGLE-frame deviation within maxL1 (the band masking
    //   that frame matches). A pair diverging in 2+ frames shares NO
    //   band — even when its total L1 is within maxL1 — because every
    //   mask leaves at least one divergent frame exposed. That is the
    //   documented recall BOUND of the dial, not a bug: multi-frame
    //   drift needs multi-mask banding (masking pairs of frames), which
    //   squares the band count for a tail the exhaustive oracle shows
    //   this corpus does not have.
    val corpus = Seq(
      (21L, "a" * 64),              // 4 frames of 16×'a' = [1552]*4
      (22L, "a" * 64),              // identical profile
      (23L, "a" * 63 + "c"),        // LAST frame +2: single-frame dev, L1 = 2
      (31L, "d" * 64),              // [1600]*4
      (32L, "e" + "d" * 62 + "e")   // frames 0 AND 3 each +1: L1 = 2 over TWO frames
    ).toDF("asset_id", "payload")
      .select(col("asset_id"), col("payload").cast("binary").as("payload"))
    def pairs(maxL1: Long): Set[(Long, Long)] =
      graft.operators.Multimodal.audioPairsFrom(corpus, maxL1)
        .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs(0) === Set((21L, 22L)))
    val tol = pairs(2)
    // single-frame deviations within the dial: ALL found (recall 1)
    assert(Set((21L, 22L), (21L, 23L), (22L, 23L)).subsetOf(tol))
    // two-frame deviation with the SAME total L1: shares no band — the
    // spec pins the bound so a silent banding change can't move it
    assert(!tol.contains((31L, 32L)),
      "2-frame deviation unexpectedly recalled — banding scheme changed?")
    assert(tol === Set((21L, 22L), (21L, 23L), (22L, 23L)))
  }

  test("multimodal: frame sampling yields bounded per-asset fan-out") {
    val frames = Multimodal.frameSample(Multimodal.assets(spark, sf), 16, 4)
    val counts = frames.groupBy("asset_id").agg(count(lit(1)).as("n"))
    assert(counts.filter(col("n") > 4).count() === 0L)
    assert(frames.count() > 0L)
  }

  test("streaming near-dup suppression: batch-internal AND cross-batch dups dropped, uniques kept") {
    import spark.implicits._
    // documents.parquet as a DIRECTORY of two files = two micro-batches
    val root = java.nio.file.Files.createTempDirectory("graft_neardup_spec_")
    val docsDir = root.resolve("documents.parquet")
    java.nio.file.Files.createDirectories(docsDir)
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val batch0 = Seq(
      (1L, base),                                   // kept (first)
      (2L, base.replace("tango", "uniform")),       // in-batch near-dup of 1
      (3L, "totally different content words " +
        "one two three four five six seven eight nine ten eleven twelve"))
    val batch1 = Seq(
      (10L, base.replace("alpha", "zulu")),         // cross-batch near-dup of 1
      (11L, "another unrelated document body with its own vocabulary " +
        "red orange yellow green blue indigo violet umber ochre teal"))
    batch0.toDF("doc_id", "text").coalesce(1)
      .write.parquet(docsDir.resolve("b0").toString)
    batch1.toDF("doc_id", "text").coalesce(1)
      .write.parquet(docsDir.resolve("b1").toString)
    // two dirs of one part-file each; order batches by mtime
    val f0 = java.nio.file.Files.list(docsDir.resolve("b0"))
      .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
    val f1 = java.nio.file.Files.list(docsDir.resolve("b1"))
      .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
    java.nio.file.Files.move(f0, docsDir.resolve("000.parquet"))
    java.nio.file.Files.move(f1, docsDir.resolve("001.parquet"))
    Seq("b0", "b1").foreach { b =>
      java.nio.file.Files.walk(docsDir.resolve(b))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    docsDir.resolve("000.parquet").toFile.setLastModified(1000000L)
    docsDir.resolve("001.parquet").toFile.setLastModified(2000000L)

    val kept = StreamOps.nearDupSuppress(spark, root.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 11L))
  }

  test("streaming near-dup suppression equals the batch estimate-dedup on a single batch") {
    val streamed = StreamOps.nearDupSuppress(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val losers = graft.operators.Dedup.resolveClusters(
        graft.operators.Dedup.minhashApprox(spark, sf, 0.5))
      .filter(col("rep") =!= col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val all = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === all -- losers)
  }
}
