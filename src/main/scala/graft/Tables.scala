package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
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
  /** One entry per path: the leaf files last seen and whether one of
    * them stores a TIMESTAMP(NANOS) column. */
  private val nanos = new ConcurrentHashMap[String, (Seq[(String, Long, Long)], Boolean)]

  private def inferenceConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive" || k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** A path's leaf files, sorted; None when the path does not exist. */
  private def leavesOf(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plain FileStatus, not listFiles' LocatedFileStatus: copying a local
    // file's permissions into the latter forks `ls` without libhadoop
    def leaves(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    val root = try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    root.map(leaves(_).sorted)
  }

  /** The value `memo` holds for `path` at `version`, else `compute`d. */
  private def memoized[V, T](memo: ConcurrentHashMap[String, (V, T)], path: String,
                             version: V)(compute: => T): T = {
    val hit = memo.get(path)
    if (hit != null && hit._1 == version) hit._2
    else {
      val value = compute
      memo.put(path, (version, value))
      value
    }
  }

  /** The schema stock `spark.read.parquet(path)` infers, inferred once
    * per version of the path's files and inference settings. No lock is
    * held while inferring: concurrent first loads each infer and agree.
    * A path that does not exist goes to the stock read, which raises
    * the stock error. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    leavesOf(spark, path).fold(spark.read.parquet(path).schema) { files =>
      val version: Version =
        (files, spark.conf.getAll.filter { case (k, _) => inferenceConf(k) })
      memoized(schemas, path, version)(spark.read.parquet(path).schema)
    }

  /** Turn `spark.sql.legacy.parquet.nanosAsLong` on when a file under
    * `path` stores a TIMESTAMP(NANOS) column, which Spark reads only as
    * a raw long; any other file leaves the session's setting alone. The
    * footers are read once per version of the path's files. */
  def admitNanos(spark: SparkSession, path: String): Unit = {
    val found = leavesOf(spark, path).exists(files => memoized(nanos, path, files) {
      files.map(f => new Path(f._1))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .exists { f =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(f, spark.sparkContext.hadoopConfiguration))
          try reader.getFooter.getFileMetaData.getSchema.getColumns.asScala.exists(
            _.getPrimitiveType.getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
              case _ => false
            })
          finally reader.close()
        }
    })
    if (found) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
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
    * testdata, readable only via `nanosAsLong`: [[admitNanos]]).
    * Normalize all three to µs TIMESTAMP_NTZ; the ns path floor-divides
    * in integer arithmetic (ns since epoch exceeds double's 53-bit
    * mantissa, so no `/ 1000.0`) — the exact truncation DuckDB applies.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    admitNanos(s, s"$d/events.parquet")
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
