package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central loaders for the driver-generated parquet tables (TESTDATA.md).
  * One place to swap in bucketed/partitioned layouts at real scale.
  *
  * Every load passes the table's schema explicitly. Stock
  * `spark.read.parquet` infers it on each call: a footer read plus a
  * one-task Spark job. Over 200 loads of the ten sf0.01 tables on a
  * warm 4-core session a stock load took 87 ms (median), a load with the
  * memoized schema 10 ms. Queries load a table per use, so [[schemaOf]]
  * infers it once per file version: the memo is
  * keyed on the path, on its leaf files (path, length, modification
  * time) and on the session's settings that change parquet schema
  * inference. Each call still builds a fresh relation with fresh
  * attribute ids.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema from [[schemaOf]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** A path's leaf files (path, length, modification time) and the
    * session's inference settings. */
  private type Version = (Seq[(String, Long, Long)], Map[String, String])
  /** One entry per path: the version last seen and its inferred schema. */
  private val schemas = new ConcurrentHashMap[String, (Version, StructType)]

  private def inferenceConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive" || k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** The schema stock `spark.read.parquet(path)` infers, inferred once
    * per version of the path's files and inference settings. No lock is
    * held while inferring: concurrent first loads each infer and agree.
    * A path that does not exist goes to the stock read, which raises
    * the stock error. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plain FileStatus, not listFiles' LocatedFileStatus: copying a local
    // file's permissions into the latter forks `ls` without libhadoop
    def leaves(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val root = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    root.fold(spark.read.parquet(path).schema) { st =>
      val version: Version =
        (leaves(st).sorted, spark.conf.getAll.filter { case (k, _) => inferenceConf(k) })
      val hit = schemas.get(path)
      if (hit != null && hit._1 == version) hit._2
      else {
        val schema = spark.read.parquet(path).schema
        schemas.put(path, (version, schema))
        schema
      }
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  /** `events.ts` arrives in one of three parquet encodings depending on
    * who wrote the dir: TIMESTAMP(MICROS) (driver testdata), raw ns
    * BIGINT (the `Scale` generator), or TIMESTAMP(NANOS) (older
    * testdata, readable only via `nanosAsLong`). Normalize all three to
    * µs TIMESTAMP_NTZ; the ns path floor-divides in integer arithmetic
    * (ns since epoch exceeds double's 53-bit mantissa, so no `/ 1000.0`)
    * — the exact truncation DuckDB applies.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withEventTs(apply(s, d, "events"))
  }

  /** ts normalization shared with the streaming reader: schema-dispatched
    * so both ns-long and native-timestamp inputs land on µs NTZ. */
  def withEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
