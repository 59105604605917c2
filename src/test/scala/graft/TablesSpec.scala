package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** graft.Tables against stock `spark.read.parquet`: same schema and rows,
  * with the schema inferred once per version of a table's files and of
  * the session's inference settings.
  */
class TablesSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def stock(dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  private def tempDir(): String = Files.createTempDirectory("graft_tables_").toString

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Spark jobs started by `body` on this thread. A fence job started
    * after it is seen last, since the listener bus keeps event order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables_spec_${System.nanoTime()}"
    val counted = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet()
          case g if g == s"$group-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS))
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  test("every table reads as stock: schema with nullability, and rows") {
    Tables.names.foreach { n =>
      val ours = Tables(spark, sf, n)
      val theirs = stock(sf, n)
      assert(ours.schema === theirs.schema, n)
      sameRows(ours, theirs)
    }
  }

  test("a second load of a table starts no Spark job") {
    // the counter does see a stock load's inference job
    assert(jobsDuring(stock(sf, "orders")) > 0)
    Tables(spark, sf, "orders")
    assert(jobsDuring(Tables(spark, sf, "orders")) === 0)
    // a fresh relation per call: a self-join still resolves
    val a = Tables(spark, sf, "orders")
    val b = Tables(spark, sf, "orders")
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() === a.count())
  }

  test("a table overwritten at the same path reads with its new schema") {
    import spark.implicits._
    val d = tempDir()
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    assert(Tables(spark, d, "t").schema === stock(d, "t").schema)
    Seq((3L, 1.5, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val ours = Tables(spark, d, "t")
    assert(ours.schema === stock(d, "t").schema)
    assert(ours.columns.toSeq === Seq("id", "x", "flag"))
    sameRows(ours, stock(d, "t"))
  }

  test("raw-nanosecond ts: each nanosAsLong setting gets stock's schema") {
    val d = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000123456789L + i).append("user_id", 7L)
        .append("event_type", "click").append("value", i * 0.5))
    } finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def outcome(df: => DataFrame) = Try(df.schema).toEither.left.map(_.getClass)
    Seq("true", "false", "true").foreach { v =>
      withConf(key, v) {
        val theirs = outcome(stock(d, "events"))
        assert(outcome(Tables(spark, d, "events")) === theirs, s"nanosAsLong=$v")
        if (v == "true") {
          assert(theirs.map(_("ts").dataType) === Right(LongType))
          sameRows(Tables(spark, d, "events"), stock(d, "events"))
        }
      }
    }
  }

  test("events turns nanosAsLong on only for a TIMESTAMP(NANOS) footer") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getAll.get(key) // explicitly set, not the default
    spark.conf.unset(key)
    try {
      // the sf0.001 testdata stores TIMESTAMP(MICROS): the setting stays unset
      assert(Tables.events(spark, sf).schema("ts").dataType.typeName === "timestamp_ntz")
      assert(!spark.conf.getAll.contains(key))
      val d = tempDir()
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
      val writer = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
        .withType(schema).withConf(new Configuration()).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("ts", 1700000000123456789L))
      finally writer.close()
      val ts = Tables.events(spark, d).collect().map(_.get(0).toString)
      assert(spark.conf.getAll.get(key).contains("true"))
      assert(ts.toSeq === Seq("2023-11-14T22:13:20.123456"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a partitioned directory reads as stock, partition columns included") {
    import spark.implicits._
    val d = tempDir()
    Seq((1L, "x", 2020), (2L, "y", 2021)).toDF("id", "s", "yr")
      .write.partitionBy("yr").parquet(s"$d/p.parquet")
    def sameAsStock(): DataFrame = {
      val ours = Tables(spark, d, "p")
      assert(ours.schema === stock(d, "p").schema)
      sameRows(ours, stock(d, "p"))
      ours
    }
    assert(sameAsStock().schema("yr").dataType === IntegerType)
    // a partition arrives whose value makes the partition column a string;
    // only the directory below the table root is new
    val e = tempDir()
    Seq((3L, "z", "late")).toDF("id", "s", "yr")
      .write.partitionBy("yr").parquet(s"$e/p.parquet")
    Files.move(Paths.get(s"$e/p.parquet/yr=late"), Paths.get(s"$d/p.parquet/yr=late"))
    assert(sameAsStock().schema("yr").dataType === StringType)
  }

  test("concurrent first loads of one table agree") {
    import spark.implicits._
    val d = tempDir()
    Seq((1, 2.0, "a")).toDF("i", "x", "s").write.parquet(s"$d/c.parquet")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val schemas = Await.result(
        Future.sequence((1 to 4).map(_ => Future(Tables(spark, d, "c").schema))), 2.minutes)
      assert(schemas.distinct === Seq(stock(d, "c").schema))
    } finally pool.shutdown()
  }
}
