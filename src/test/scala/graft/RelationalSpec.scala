package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("asofJoin: an event with no order at or before ts keeps its row, with a null asof_orderdate") {
    import spark.implicits._
    import java.time.{LocalDate, LocalDateTime}
    val t = java.nio.file.Files.createTempDirectory("graft_asof_spec_")
    try {
      val at = LocalDateTime.parse("2024-01-03T12:00:00")
      // user 10 has an order before ts; user 20 only one after; user 30 none
      Seq((1L, 10L, at), (2L, 20L, at), (3L, 30L, at)).toDF("event_id", "user_id", "ts")
        .coalesce(1).write.parquet(t.resolve("events.parquet").toString)
      Seq((10L, LocalDate.parse("2024-01-01")), (10L, LocalDate.parse("2024-01-05")),
          (20L, LocalDate.parse("2024-02-01"))).toDF("o_custkey", "o_orderdate")
        .coalesce(1).write.parquet(t.resolve("orders.parquet").toString)
      val got = Relational.asofJoin(spark, t.toString)
        .select(col("event_id"), col("asof_orderdate").cast("string"))
        .as[(Long, String)].collect().toSeq
      assert(got === Seq((1L, "2024-01-01"), (2L, null), (3L, null)))
    } finally Persisted.delete(t)
  }

  test("aggPricing groups to the 6 flag/status combinations") {
    val rows = Relational.aggPricing(spark, sf).collect()
    assert(rows.length === 6)
    assert(rows.map(_.getLong(rows.head.length - 1)).sum <= 6000L)
  }

  test("filterPushdown pushes predicates into the parquet scan") {
    val plan = Relational.filterPushdown(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("l_quantity") || plan.contains("l_discount"))
  }

  test("broadcastJoin actually broadcasts the dimension side") {
    val plan = Relational.broadcastJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("multiJoin has no shuffle join and no cartesian product") {
    val plan = Relational.multiJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("topK returns exactly k rows in descending price order") {
    val rows = Relational.topK(spark, sf).collect()
    assert(rows.length === 10)
    val prices = rows.map(_.getDouble(1))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("windowRank keeps at most 3 orders per customer") {
    val perCust = Relational.windowRank(spark, sf).collect()
      .groupBy(_.getLong(0)).values.map(_.length)
    assert(perCust.forall(_ <= 3))
  }

  test("unionDedup key set is the full customer key domain") {
    assert(Relational.unionDedup(spark, sf).count() === 150L)
  }

  test("rollup emits detail + subtotal + grand-total grouping sets") {
    val rows = Relational.rollupAgg(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    assert(grand.head.getLong(2) === 1500L)
  }

  test("existsSubq plans as a semi join, not a rescan") {
    val plan = Relational.existsSubq(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(plan.contains("LeftSemi"), plan.take(500))
  }

  test("windowSuite: all five functions share one window sort; quartiles cover 1..4") {
    val df = Relational.windowSuite(spark, sf)
    val sorts = df.queryExecution.executedPlan.toString()
      .linesIterator.count(_.trim.startsWith("Sort "))
    // one partition-window sort + one output orderBy
    assert(sorts <= 2, s"expected <=2 sorts, got $sorts")
    val qs = df.select("quartile").distinct().collect().map(_.getLong(0)).sorted
    assert(qs.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("rangeWindow frames on DATE VALUES: trailing mean covers exactly the last 7 calendar days") {
    val rows = Relational.rangeWindow(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getDouble(1), r.getDouble(2)))
    // reference: for each day, mean of revenues with day-distance <= 6 —
    // value-based, so a gap in the calendar shrinks the set (a rows
    // frame would stretch past it)
    rows.foreach { case (day, _, trail7) =>
      val window = rows.filter { case (d2, _, _) => d2 <= day && d2 >= day - 6 }
      val expect = BigDecimal(window.map(_._2).sum / window.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(trail7 - expect) <= 2e-4, s"day $day: $trail7 vs $expect")
    }
  }

  test("approxDistinct: HLL counts within the configured rsd of exact, schema stable") {
    val got = Relational.approxDistinct(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val a = got(k).toDouble
      // 0.023 rsd → allow 4 sigma ≈ 10 %
      assert(math.abs(a - n) <= math.max(2.0, 0.10 * n), s"$k: approx $a vs exact $n")
    }
  }
}
