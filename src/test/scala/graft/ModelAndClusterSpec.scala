package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ModelAndClusterSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}
  import spark.implicits._

  test("typed Dataset + custom Aggregator equals the untyped aggregation") {
    val typedRev = Model.lineitems(spark, sf)
      .groupByKey(_.l_returnflag)
      .agg(Model.revenue.toColumn.name("revenue"))
      .collect().map { case (k, v) => k -> math.round(v * 100) }.toMap
    val untyped = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
      .collect().map(r => r.getString(0) -> math.round(r.getDouble(1) * 100)).toMap
    assert(typedRev === untyped)
  }

  /** Driver-side union-find: each node of `pairs` → its component minimum. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("resolveClusters: min-label propagation over a chain and an island") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val reps = Dedup.resolveClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // Components far wider than the old 10-round cap: a 40-node path, the
    // same path with its ids reversed (the minimum sits at the other end),
    // a path whose ids are shuffled (local minima along the chain), and a
    // star joined to a path; each must equal the union-find components.
    val path = (0L until 39L).map(i => (i, i + 1))
    val shuffled = new scala.util.Random(7).shuffle((100L until 140L).toList)
    val graphs = Seq(
      "path" -> path,
      "reversed path" -> path.map { case (a, b) => (1039L - a, 1039L - b) },
      "shuffled path" -> shuffled.zip(shuffled.tail),
      "star + path" -> ((2001L to 2012L).map(i => (2000L, i)) ++
        (2012L until 2040L).map(i => (i, i + 1))))
    graphs.foreach { case (name, edges) =>
      val got = Dedup.resolveClusters(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === unionFind(edges), name)
    }
    // rounds grow with the log of the component, not its diameter: a
    // 1000-node path with shuffled ids settles in about 10 rounds, where
    // propagation with pointer jumping alone needs a few hundred
    val long = new scala.util.Random(11).shuffle((0L until 1000L).toList)
    val longEdges = long.zip(long.tail)
    assert(Dedup.resolveClusters(longEdges.toDF("a", "b"), maxRounds = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === unionFind(longEdges))
    // the round cap is a guard: hitting it throws instead of returning
    // unconverged labels
    intercept[IllegalStateException](
      Dedup.resolveClusters(path.toDF("a", "b"), maxRounds = 2).collect())
  }

  test("dedupedDocuments removes exactly the non-representative cluster members") {
    val pairs = Dedup.minhashLsh(spark, sf, 0.5).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // reference union-find on the collected (small) pair set
    val expectedDropped = unionFind(pairs.toSeq).count { case (x, r) => x != r }
    val total = Tables.documents(spark, sf).count()
    assert(Dedup.dedupedDocuments(spark, sf).count() === total - expectedDropped)
  }
}
