package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("exact dedup partitions all docs (sum of group sizes = row count)") {
    val total = Dedup.exact(spark, sf).agg(sum("n_dups")).collect().head.getLong(0)
    assert(total === 500L)
  }

  test("minhash LSH recall: finds every exact-jaccard pair at tau=0.5") {
    val exact = Dedup.ngramJaccard(spark, sf, 0.5).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf, 0.5).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty) // testdata plants near-dups
    assert(exact === lsh)  // verified-jaccard LSH: no FPs; full recall here
  }

  test("minhashApprox (no-verification fast path) covers the exact pair set") {
    val exact = Dedup.minhashLsh(spark, sf, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val approx = Dedup.minhashApprox(spark, sf, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every exact pair comfortably above tau must be found, and its
    // estimate must be within sketch error (4σ ≈ 0.25 at 64 perms)
    exact.filter(_._3 >= 0.75).foreach { case (a, b, j) =>
      val est = approx.get((a, b))
      assert(est.isDefined, s"missing pair ($a,$b) j=$j")
      assert(math.abs(est.get - j) <= 0.25, s"($a,$b): est=${est.get} vs j=$j")
    }
  }

  test("simhash: identical docs collide at hamming 0; output respects the cap") {
    // planted corpus: docs 1 and 2 identical, 3 unrelated
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_").toString
    Seq(
      (1L, "spark table scan merge join filter window batch stream data"),
      (2L, "spark table scan merge join filter window batch stream data"),
      (3L, "completely different vocabulary about gardens flowers weather rain sun soil"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.simhashPairs(spark, dir, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L })
    assert(pairs.forall { case (a, b, h) => a < b && h <= 6L })
  }

  test("ngramJaccard df-cap: exact on an adversarial hot-shingle corpus; all-hot pairs are the exact-dup path's job") {
    import spark.implicits._
    // every doc shares the same hot phrase (its shingles reach df ≈ 40,
    // far above the cap of 8 — the "in the of" detonation shape); docs
    // 100/101 are planted near-dups whose OVERLAP INCLUDES the hot
    // shingles, so the reported jaccard is only exact if the hot
    // contribution is added back; docs 200/201 share ONLY hot shingles.
    val hot = "the quick brown fox jumps over lazy dogs"
    val docs =
      (0 until 40).map(i => (i.toLong,
        s"$hot u$i v$i w$i x$i y$i z$i p$i q$i r$i s$i")) ++
      Seq(
        (100L, s"$hot shared rare payload alpha beta gamma delta epsilon zeta"),
        (101L, s"$hot shared rare payload alpha beta gamma delta epsilon eta"),
        (200L, hot), (201L, hot))
    val dir = java.nio.file.Files.createTempDirectory("graft_dfcap_").toString
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // brute-force oracle computed in-process on full shingle sets
    def sh(t: String): Set[Seq[String]] =
      t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.toSeq).toSet
    val byId = docs.toMap
    val brute = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      inter = (sh(ta) intersect sh(tb)).size
      j = BigDecimal(inter.toDouble / (sh(ta).size + sh(tb).size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (a, b, j)).toSet

    val got = Dedup.ngramJaccard(spark, dir, tau = 0.5, dfCap = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the planted pair must carry the EXACT jaccard (hot ∩ added back)
    assert(got.exists { case (a, b, _) => a == 100L && b == 101L })
    val plantedJ = brute.collectFirst { case (100L, 101L, j) => j }.get
    assert(got.collectFirst { case (100L, 101L, j) => j }.get === plantedJ)
    // capped output = brute force MINUS pairs whose shared shingles are
    // ALL above the cap — here exactly the identical pair (200, 201)
    assert(brute -- got === Set((200L, 201L, 1.0)))
    // ...and that pair is the exact-dup operator's catch by construction
    val exactGroups = Dedup.exact(spark, dir)
      .filter(col("n_dups") > 1).collect()
    assert(exactGroups.exists(r => r.getLong(1) == 200L && r.getLong(2) == 2L))
  }

  test("embeddingCosine only pairs within the same label block") {
    val pairs = Dedup.embeddingCosine(spark, sf, tau = 0.3)
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val joined = pairs
      .join(e.withColumnRenamed("vec_id", "a").withColumnRenamed("label", "la"), "a")
      .join(e.withColumnRenamed("vec_id", "b").withColumnRenamed("label", "lb"), "b")
    assert(joined.filter(col("la") =!= col("lb")).count() === 0L)
    assert(pairs.count() > 0L)
  }

  test("char n-gram jaccard finds the same planted dups as word n-gram") {
    val word = Dedup.ngramJaccard(spark, sf, 0.5).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val char5 = Dedup.charNgramJaccard(spark, sf, 0.6).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(word === char5) // planted near-dups are dominant under both
  }

  test("stratified sampling respects zero and full strata deterministically") {
    val sampled = graft.operators.Relational.stratifiedSample(spark, sf)
    val counts = sampled.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("error"))          // fraction 0.0
    assert(counts("signup") === full("signup")) // fraction 1.0
    val again = graft.operators.Relational.stratifiedSample(spark, sf).count()
    assert(again === sampled.count())           // seeded → deterministic
  }

  test("LSH-blocked embedding dedup: every pair is bucket-consistent and exact-cosine") {
    val lsh = Dedup.embeddingCosineLsh(spark, sf, tau = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, c) => assert(a < b && c >= 0.25) }
  }

  test("knnBrute: self is excluded, sims sorted descending, k respected") {
    val rows = Similarity.knnBrute(spark, sf, queryId = 0L, k = 5).collect()
    assert(rows.length === 5)
    assert(!rows.map(_.getLong(0)).contains(0L))
    val sims = rows.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("knnLsh returns a subset ranking consistent with brute force") {
    val brute = Similarity.knnBrute(spark, sf, 0L, 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.knnLsh(spark, sf, 0L, 10).collect()
    // every ANN result must carry the exact cosine the brute pass computed
    assert(lsh.forall(r => math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("kmeans: inertia non-increasing per iteration, all points assigned") {
    val rows = Similarity.kmeans(spark, sf, k = 4, iters = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val totalByIter = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (it, rs) => (it, rs.map(_._3).sum, rs.map(_._4).sum) }
    assert(totalByIter.map(_._1) == Seq(1, 2, 3))
    val n0 = totalByIter.head._2
    assert(totalByIter.forall(_._2 == n0)) // every point assigned each iter
    val inertias = totalByIter.map(_._3)
    assert(inertias.zip(inertias.tail).forall { case (a, b) => b <= a + 1e-6 },
      s"inertia increased: $inertias")
  }

  test("knnLshIndexed: identical to in-flight knnLsh; probe set prunes PARTITIONS at the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val inflight = Similarity.knnLsh(spark, sf, 0L, 10).collect().toSeq
    val indexed = Similarity.knnLshIndexed(spark, sf, 0L, 10)
    assert(indexed.collect().toSeq === inflight)

    // the scan node must carry the probe set as a PartitionFilter and
    // actually list only the probe partitions (9 of 256 at radius 1)
    val scans = indexed.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.relation.partitionSchema.fieldNames.contains("bucket") => f
    }
    assert(scans.nonEmpty, "no partitioned file scan in the indexed plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("bucket")),
      s"probe set not pushed as a partition filter: ${scan.partitionFilters}")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 9, s"radius-1 probe should read <= 9 partitions, read $selected")

    // the index is the persisted IVF family's lsh8 kind: a second call
    // reuses it without writing, and a lost sentinel rebuilds it whole
    val ivf = Persisted(spark, Persisted.Ivf, sf)
    def written: Set[(String, Long)] = {
      val walk = java.nio.file.Files.walk(ivf.dir("lsh8"))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => (p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
      } finally walk.close()
    }
    val built = written
    assert(Similarity.knnLshIndexed(spark, sf, 0L, 10).collect().toSeq === inflight)
    assert(written === built, "a warm call rewrote the index")
    java.nio.file.Files.delete(ivf.sentinel(Seq("lsh8")))
    assert(Similarity.knnLshIndexed(spark, sf, 0L, 10).collect().toSeq === inflight)
    // every part file name carries the writing job's id
    assert(written.map(_._1).intersect(built.map(_._1)).forall(!_.contains("part-")))
    assert(java.nio.file.Files.exists(ivf.sentinel(Seq("lsh8"))))
    // q61b: radius 8 probes all 256 buckets ≡ exhaustive search
    assert(Similarity.knnLshIndexed(spark, sf, 0L, 10, probeRadius = 8)
      .select("vec_id", "sim").collect().toSeq ===
      Similarity.knnBrute(spark, sf, 0L, 10).collect().toSeq)
  }

  test("knnIvfIndexed: identical to in-flight knnIvfKmeans; probe set prunes CELL partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val inflight = Similarity.knnIvfKmeans(spark, sf, 0L, 10, nprobe = 2).collect().toSeq
    val indexed = Similarity.knnIvfIndexed(spark, sf, 0L, 10, nprobe = 2)
    assert(indexed.collect().toSeq === inflight)

    // the persisted index must push the probe set as a partition filter
    // and list only the probed cells (2 of 8 at nprobe=2)
    val scans = indexed.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec if f.relation.partitionSchema.fieldNames.contains("cell") => f
    }
    assert(scans.nonEmpty, "no cell-partitioned file scan in the indexed plan")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("cell")),
      s"probe set not pushed as a partition filter: ${scan.partitionFilters}")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected <= 2, s"nprobe=2 should read <= 2 cell partitions, read $selected")
  }

  test("cellAssign: broadcast-join form is bit-identical to the literal form") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val cb = e.filter(col("vec_id") < 8).orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val lit = Similarity.cellAssign(cb, e, Some(false))
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val jn = Similarity.cellAssign(cb, e, Some(true))
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(lit === jn)
  }

  test("cellsFor: linear-cost dial formula; semDedupAuto = fixed cells at test SF") {
    assert(Similarity.cellsFor(500) === 8)
    assert(Similarity.cellsFor(20000) === 64)
    assert(Similarity.cellsFor(2000000) === 4096)
    val auto = Similarity.semDedupAuto(spark, sf).collect().toSeq
    val fixed = Similarity.semDedup(spark, sf, cells = 8).collect().toSeq
    assert(auto === fixed)
  }

  test("kmeans trains above the literal-assignment cell cap (join path)") {
    val big = Similarity.kmeans(spark, sf, k = 24, iters = 2).collect()
    assert(big.map(_.getInt(0)).distinct.sorted === Array(1, 2))
    // every vector assigned each iteration
    val n = big.filter(_.getInt(0) == 1).map(_.getLong(2)).sum
    assert(n === Tables.embeddings(spark, sf).count())
  }

  test("semDedup: dropped vectors are cosine-near their smaller-id keeper") {
    val dropped = Similarity.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(dropped.nonEmpty)
    assert(dropped.forall { case (v, _, keep, n) => keep < v && n >= 1 })
    // each (keeper, dropped) pair really is cosine >= tau — recomputed
    // locally from the raw vectors, independent of the engine's plan
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    dropped.foreach { case (v, _, keep, _) =>
      val c = cos(vecs(v), vecs(keep))
      assert(math.round(c * 10000) / 10000.0 >= 0.4, s"pair ($keep,$v) cos=$c below tau")
    }
  }

  test("knnIvfKmeans: full probe = exhaustive; nprobe recall monotone and useful") {
    val brute = Similarity.knnBrute(spark, sf, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // all-cells probe ≡ exhaustive, including exact similarities
    val full = Similarity.knnIvfKmeans(spark, sf, 0L, 10, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === brute)
    // recall@10 grows with nprobe; even 2/8 trained cells recall most
    val bruteIds = brute.map(_._1).toSet
    val recallAt = Seq(1, 2, 4, 8).map { np =>
      val got = Similarity.knnIvfKmeans(spark, sf, 0L, 10, nprobe = np).collect()
        .map(_.getLong(0)).toSet
      (bruteIds intersect got).size
    }
    assert(recallAt == recallAt.sorted, s"recall not monotone in nprobe: $recallAt")
    assert(recallAt(1) >= 5, s"nprobe=2 recall@10 too low: ${recallAt(1)}")
  }

  test("multi-probe: recall@10 is monotone in probe radius, radius 8 = exhaustive") {
    val brute = Similarity.knnBrute(spark, sf, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    val recallAt = (0 to 2).map { r =>
      val got = Similarity.knnLsh(spark, sf, 0L, 10, probeRadius = r).collect()
        .map(_.getLong(0)).toSet
      (brute intersect got).size
    }
    assert(recallAt == recallAt.sorted, s"recall not monotone: $recallAt")
    // radius 8 flips every bit combination → scans all 256 buckets
    assert(Similarity.probeSet(0, 8).size == 256)
    val full = Similarity.knnLsh(spark, sf, 0L, 10, probeRadius = 8).collect()
      .map(_.getLong(0)).toSet
    assert(full == brute)
  }

  test("containment: superset pairs score 1.0 where jaccard stays low") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("containment").toString
    // doc 1 = a strict prefix of doc 0 (10 of its 28 shingles), doc 2 unrelated
    val big = (1 to 30).map(i => s"w$i").mkString(" ")
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    Seq((0L, big), (1L, small), (2L, other)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.containmentPairs(spark, dir, tau = 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 1L, 1.0))) // containment 10/10; jaccard = 10/28 ≈ 0.36
    val jac = Dedup.ngramJaccard(spark, dir, tau = 0.8).count()
    assert(jac == 0) // symmetric jaccard misses the embedded doc
  }

  test("simhash mirror variant: every same-text pair is hamming-0 under both hashes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import java.nio.file.Files
    // Same machinery, different token hash → the pair SETS need not be
    // equal, but identical token sequences collide at hamming 0 under ANY
    // per-token hash; those pairs must appear in both outputs. sf0.001
    // has no exact dups, so plant them: 0≡1 and 3≡4 duplicated, 2 apart.
    val dir = Files.createTempDirectory("simhashmirror").toString
    val dup1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val dup2 = (50 to 90).map(i => s"tok$i").mkString(" ")
    val lone = (200 to 260).map(i => s"z$i").mkString(" ")
    Seq((0L, dup1), (1L, dup1), (2L, lone), (3L, dup2), (4L, dup2))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sameText = Set((0L, 1L), (3L, 4L))
    val prod = Dedup.simhashPairs(spark, dir).filter("hamming = 0")
      .select("a", "b").as[(Long, Long)].collect().toSet
    val mir = Dedup.simhashPairsMirrorable(spark, dir).filter("hamming = 0")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(sameText.subsetOf(prod), "production simhash missed a same-text pair")
    assert(sameText.subsetOf(mir), "mirror simhash missed a same-text pair")
  }

  test("trainedCodebook retrains when the embeddings file is regenerated in-session") {
    // own copy of the embeddings — this test mutates it (the driver
    // regenerates testdata between rounds; a live JVM must notice)
    val t = java.nio.file.Files.createTempDirectory("graft_cbstamp_")
    t.toFile.deleteOnExit()
    WarehouseGC.registerScratchPurge(spark, t.toString) // ivfidx lineage dies with the JVM
    val out = t.resolve("embeddings.parquet").toString
    val src = spark.read.parquet(sf + "/embeddings.parquet")
    src.write.mode("overwrite").parquet(out)
    val cb1 = Similarity.trainedCodebook(spark, t.toString, 8, 3)
    Thread.sleep(10) // distinct mtime even on coarse filesystem clocks
    src.select(col("vec_id"),
        transform(col("embedding"), x => -x).cast("array<float>").as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(out)
    val cb2 = Similarity.trainedCodebook(spark, t.toString, 8, 3)
    // deterministic Lloyd on negated vectors → negated centroids; a stale
    // JVM-cache hit would return cb1 verbatim (round-4 find: the cache
    // key omitted the embeddings stamp while the on-disk path rolled)
    assert(cb1.map(_.toSeq).toSeq !== cb2.map(_.toSeq).toSeq,
      "stale JVM-cached codebook served after in-session regeneration")
  }
}
