package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** The plan dumper plans inside [[Lineage.untruncated]]: a query that
  * truncates while it is built dumps its full pipeline, and the scope
  * ends with the dump.
  */
class PlanDumpSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  test("formatted dump of q89 shows the full pipeline; outside it q89 still truncates") {
    // PageRank truncates every round: planned outside the scope, each
    // round's ranks would be a `Scan ExistingRDD` stub
    val dump = PlanDump.formatted(spark, sf, "q89_pagerank")
    assert(!dump.startsWith("PLANNING FAILED"), dump.take(500))
    assert(!dump.contains("ExistingRDD"), dump.take(2000))
    // the session is still usable, and truncation is back on for it
    val q89 = SparkEntry.queries("q89_pagerank")(spark, sf)
    assert(q89.queryExecution.explainString(FormattedMode).contains("ExistingRDD"))
    assert(q89.count() > 0)
  }
}
