package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up of a driver testdata dir: replicate every fact
  * table `factor`× with per-replica key offsets, preserving the driver's
  * single-file-parquet layout. Produces a measured scale point above the
  * largest shipped SF (the 100 TB design arguments need at least one
  * measured multiple).
  *
  * Replication is entropy-preserving, not naive:
  *  - every join/entity key gets `+ replica · 10⁹` so join fan-outs stay
  *    1:1 (a naive copy would square join outputs on duplicated keys);
  *  - document text goes through a per-replica bijective letter
  *    permutation (`translate`), so within-replica near-dup structure —
  *    word grams AND char grams, token counts, text lengths — is
  *    preserved exactly while cross-replica similarity collapses (pair
  *    counts scale linearly, as a real bigger crawl's would; a first cut
  *    that only PREFIXED tokens left interior char-5-grams shared across
  *    replicas, which made every doc a char-gram near-dup of its 9
  *    siblings and measured as a ×100 pair blowup);
  *  - embeddings are multiplied by a per-replica deterministic ±1
  *    dimension mask: norms and within-replica cosines are exactly
  *    preserved, cross-replica cosines collapse to ~0 (a random-sign
  *    dot), so ANN/dedup structure also scales linearly;
  *  - `nation`/`region` stay single-copy (dimensions, referenced by
  *    unoffset nationkeys);
  *  - `events.ts` keeps its source encoding (a TIMESTAMP(NANOS) source
  *    is read and written as a raw ns long), so the generated dir
  *    stays readable by `Tables.events`.
  *
  * Usage: runMain graft.Scale <srcDir> <outDir> <factor>
  */
object Scale {

  private val IdOffset = 1000000000L

  private val KnownTables: Set[String] = Tables.names.toSet

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Scale <srcDir> <outDir> <factor> [tables]")
    val Array(src, out, factorStr) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val s = GraftSession.local(cpus.toInt)
    // Optional 4th arg: comma-separated table subset — lets a factor that
    // only fits partially on disk (e.g. 10000× orders without the 110 GB
    // lineitem) still produce a measurable point. Unknown names fail fast:
    // a typo ("lineitems") would otherwise produce an output dir silently
    // missing the table with exit code 0.
    val tables = args.lift(3).map(_.split(',').toSet)
    tables.foreach { t =>
      val unknown = t -- KnownTables
      require(unknown.isEmpty,
        s"unknown tables: ${unknown.mkString(",")} (known: ${KnownTables.mkString(",")})")
    }
    scaleUp(s, src, out, factorStr.toInt, tables)
    s.stop()
  }

  def scaleUp(s: SparkSession, src: String, out: String, factor: Int,
              tables: Option[Set[String]] = None): Unit = {
    def want(t: String): Boolean = tables.forall(_.contains(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // A subset dir is otherwise indistinguishable from a full one: leave
    // a marker naming what it contains so consumers can tell. A later
    // FULL run into the same dir clears the marker — the dir is no
    // longer partial.
    val marker = java.nio.file.Paths.get(out, "_SUBSET_TABLES")
    tables match {
      case Some(t) => java.nio.file.Files.write(marker,
        (t.toSeq.sorted.mkString("\n") + "\n").getBytes("UTF-8"))
      case None => java.nio.file.Files.deleteIfExists(marker)
    }
    // The REPLICA axis must be the parallel (stream) side: both crossJoin
    // inputs are tiny at source scale, and the planner broadcasts the
    // smaller-by-bytes range side, leaving the 1-split source scan as the
    // stream — ONE task then generates (and parquet-encodes) the whole
    // factor× output no matter what the writer asks for (found twice this
    // round as 10 GB single-file outputs with SPARK_GRAFT_SCALE_MULTI=1).
    // Repartitioning the replicas and broadcasting the source table pins
    // the roles: `factor`-way parallel generation, one output file per
    // task in multi-file mode. (Source tables are bounded by the SOURCE
    // scale factor — broadcastable by construction.)
    val reps = s.range(factor.toLong).select(col("id").cast("int").as("rep"))
      .repartition(math.min(factor, 256))
    def replicated(name: String): DataFrame =
      reps.crossJoin(broadcast(Tables(s, src, name)))
    def off(c: String): org.apache.spark.sql.Column =
      col(c) + col("rep") * IdOffset

    // single-copy dimensions
    if (want("nation")) copySingle(s, src, out, "nation")
    if (want("region")) copySingle(s, src, out, "region")

    if (want("customer")) writeSingle(replicated("customer")
      .withColumn("c_custkey", off("c_custkey")).drop("rep"), s"$out/customer.parquet")
    if (want("supplier")) writeSingle(replicated("supplier")
      .withColumn("s_suppkey", off("s_suppkey")).drop("rep"), s"$out/supplier.parquet")
    if (want("part")) writeSingle(replicated("part")
      .withColumn("p_partkey", off("p_partkey")).drop("rep"), s"$out/part.parquet")
    if (want("orders")) writeSingle(replicated("orders")
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")).drop("rep"), s"$out/orders.parquet")
    if (want("lineitem")) writeSingle(replicated("lineitem")
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey")).drop("rep"), s"$out/lineitem.parquet")

    // events: a TIMESTAMP(NANOS) ts arrives (and leaves) as raw ns long
    Tables.admitNanos(s, s"$src/events.parquet")
    if (want("events")) writeSingle(replicated("events")
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id")).drop("rep"), s"$out/events.parquet")

    // documents: per-replica bijective letter PERMUTATION, seeded by the
    // replica id. A ROTATION has period 26 in r, so ≥27 replicas would
    // share maps and every document would gain exact cross-replica twins
    // (measured at factor 100: ~3.8 copies per rotation class, pair
    // counts ~4× beyond linear). Seeded shuffles draw from 26! distinct
    // bijections; within-replica gram structure is preserved exactly,
    // cross-replica text shares no grams at any factor.
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def permFor(r: Int): String =
      new scala.util.Random(0xA11CE + r).shuffle(alphabet.toList).mkString
    // The permutation is applied via a broadcast (rep → perm) lookup and
    // a per-char map, NOT a per-replica when-chain: the chain's
    // expression tree grows with the factor (a 999-deep tree at factor
    // 1000 kills the analyzer), while this form is constant-size at any
    // factor. Same seeded perms → byte-identical output to the chain.
    import s.implicits._
    val permDf = broadcast(
      (1 until factor).map(r => (r, permFor(r))).toDF("rep", "perm")
        .withColumn("perm_arr", split(col("perm"), "")).drop("perm"))
    val mapped = array_join(
      transform(split(col("text"), ""),
        c => when(c >= "a" && c <= "z",
          element_at(col("perm_arr"), ascii(c) - lit(96))).otherwise(c)), "")
    if (want("documents")) writeSingle(replicated("documents")
      .withColumn("doc_id", off("doc_id"))
      .join(permDf, Seq("rep"), "left")
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(mapped))
      .drop("rep", "perm_arr"), s"$out/documents.parquet")

    // embeddings: deterministic per-replica ±1 dimension mask keeps
    // norms and within-replica cosines, kills cross-replica cosine;
    // labels offset per replica so blocking-key group sizes stay
    // constant (a naive shared label grows blocks 10× → pairs 100×).
    val masked = when(col("rep") === 0, col("embedding")).otherwise(
      transform(col("embedding"),
        (x, i) => when(pmod(hash(col("rep"), i), lit(2)) === 0, x).otherwise(-x)))
    if (want("embeddings")) writeSingle(replicated("embeddings")
      .withColumn("vec_id", off("vec_id"))
      .withColumn("embedding", masked.cast("array<float>"))
      .withColumn("label", (col("label") + col("rep") * 1000).cast("int"))
      .drop("rep"), s"$out/embeddings.parquet")
  }

  private def copySingle(s: SparkSession, src: String, out: String, name: String): Unit =
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$src/$name.parquet"),
      java.nio.file.Paths.get(s"$out/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  /** Write as ONE parquet FILE (the driver testdata layout Tables
    * expects): stage a coalesced dir, move the part file, drop the dir.
    *
    * `SPARK_GRAFT_SCALE_MULTI=1` writes a parquet DIRECTORY under the
    * same name instead — Tables reads either. The single-file layout
    * forces the whole replication through ONE task (coalesce(1)), which
    * is fine up to ~1000× but serializes the per-char document transform
    * for hours at 10000×; the multi-file form keeps generation parallel
    * (and is what any real corpus looks like anyway).
    */
  private def writeSingle(df: DataFrame, outFile: String): Unit = {
    if (sys.env.get("SPARK_GRAFT_SCALE_MULTI").exists(_.nonEmpty)) {
      df.write.mode("overwrite").parquet(outFile)
      return
    }
    // stage FIRST: only once the replacement data is fully written may a
    // pre-existing output (e.g. a prior multi-file run's DIRECTORY under
    // this name, which Files.move cannot replace) be deleted — a failure
    // mid-write then leaves the previous good output intact instead of
    // destroying it (round-4 advice).
    val tmp = outFile + ".staging"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dir = java.nio.file.Paths.get(tmp)
    val part = {
      val ls = java.nio.file.Files.list(dir)
      try ls.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $tmp"))
      finally ls.close()
    }
    // walk streams hold a directory fd until closed — try/finally, not a
    // bare forEach (round-4 advice: leaked one fd per call)
    def deleteTree(p: java.nio.file.Path): Unit = {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
    val existing = java.nio.file.Paths.get(outFile)
    if (java.nio.file.Files.isDirectory(existing)) deleteTree(existing)
    java.nio.file.Files.move(part, java.nio.file.Paths.get(outFile),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteTree(dir) // remove the staging dir (success marker + crc files)
  }
}
