package graft

import graft.operators.Dedup
import graft.operators.Dedup.Features
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence pins for the persisted dedup feature index: every dedup
  * operator that reads it must return rows IDENTICAL to the same
  * pipeline over features recomputed inline from corpus text — the
  * index is a layout for the same deterministic features, never a
  * different algorithm. Also pins the point of the layout: the index
  * (probe) form plans strictly fewer exchanges than the inline
  * (recompute) form.
  */
class DedupIndexSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def exchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // collect traverses the whole subtree, so exchanges count themselves
    // once; recursion is only needed across the AQE boundary (the inner
    // plan is not a TreeNode child)
    def count(p: SparkPlan): Int =
      p.collect {
        case _: ShuffleExchangeLike => 1
        case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      }.sum
    count(df.queryExecution.executedPlan)
  }

  private def docs = Tables.documents(spark, sf)

  /** q53's pipeline over inline word shingles. */
  private def inlineJaccard(): DataFrame = {
    val w = Features.word(docs)
    Dedup.joinSizesAndScore(Dedup.interOf(w.ex, docs, 256), w.sizes, w.sizes, 0.5)
  }

  /** q52b's pipeline over inline chunks. */
  private def inlineMirror(): DataFrame =
    Dedup.chunkPairs(Dedup.mirrorChunksOf(docs), 3)

  // (operator, its form over the index, the same pipeline inline)
  private val ops: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
    ("q51 minhashLsh", () => Dedup.minhashLsh(spark, sf),
      () => Dedup.selfPairs(Features.word(docs), 0.5)),
    ("q53 ngramJaccard", () => Dedup.ngramJaccard(spark, sf), () => inlineJaccard()),
    ("q57 charNgramJaccard", () => Dedup.charNgramJaccard(spark, sf),
      () => Dedup.selfPairs(Features.char(docs), 0.6)),
    ("q82 containmentPairs", () => Dedup.containmentPairs(spark, sf), () => {
      val w = Features.word(docs)
      Dedup.containmentOf(Dedup.interOf(w.ex, docs, 256), w.sizes, 0.8)
    }),
    ("q52b simhashPairsMirrorable", () => Dedup.simhashPairsMirrorable(spark, sf),
      () => inlineMirror()))

  test("index probe ≡ recompute for every rewired dedup operator") {
    ops.foreach { case (name, indexed, inline) =>
      val fromIndex = rows(indexed())
      assert(fromIndex === rows(inline()), s"$name: index path diverged from inline")
      assert(fromIndex.nonEmpty, s"$name: testdata plants near-dups; empty = broken")
    }
    // and stage by stage: both forms join candidates on bkey alone, so
    // even the candidate sets are identical
    import org.apache.spark.sql.functions.col
    Seq(
      "word" -> (Features.indexed(spark, sf, Features.WordGrams), Features.word(docs)),
      "char" -> (Features.indexed(spark, sf, Features.CharGrams), Features.char(docs))
    ).foreach { case (grams, (x, y)) =>
      def selfCand(f: Features) = Dedup.candidates(f, f, col("a.doc_id") < col("b.doc_id"))
      assert(rows(selfCand(x)) === rows(selfCand(y)), s"$grams candidates")
      assert(rows(Dedup.agreed(selfCand(x), x, x, 16)) ===
        rows(Dedup.agreed(selfCand(y), y, y, 16)), s"$grams agreed")
      assert(rows(Dedup.verified(selfCand(x), x, x, 0.5)) ===
        rows(Dedup.verified(selfCand(y), y, y, 0.5)), s"$grams verified")
    }
  }

  test("q55b pair-grid salt: identical rows to an exhaustive cross join") {
    // round-11 parallelism fix: the bucket self-join key gained a grid
    // coordinate (bits=0 degenerated to ONE join key = one task). The
    // pair set — and every scored row — must be invariant to the grid.
    import graft.plans.GraftFunctions
    import org.apache.spark.sql.functions._
    val got = operators.Dedup.embeddingCosineLsh(spark, sf, tau = 0.3, bits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        GraftFunctions.norm(col("embedding")).as("nrm"))
    val ref = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        GraftFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos") >= 0.3)
      .select(col("a.vec_id"), col("b.vec_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(got.nonEmpty && got === ref)
  }

  test("the probe form plans fewer exchanges than the recompute form") {
    // the layout's whole point (§2/§6): bucketed feature tables remove
    // the feature-pipeline exchanges AND the self-join exchanges
    Seq(
      ("q52b", () => Dedup.simhashPairsMirrorable(spark, sf), () => inlineMirror()),
      ("q53", () => Dedup.ngramJaccard(spark, sf), () => inlineJaccard())
    ).foreach { case (name, indexed, inline) =>
      val indexEx = exchanges(indexed())
      val inlineEx = exchanges(inline())
      assert(indexEx < inlineEx,
        s"$name: index form plans $indexEx exchanges vs inline $inlineEx — layout not used")
    }
  }
}
