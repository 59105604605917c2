package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

object Fixtures {
  /** An npm name list in the reference's `packages.txt.gz` format: one
    * name per line, gzip-compressed, with one blank line mid-file.
    */
  lazy val packages: String =
    new java.io.File(getClass.getResource("/packages.txt.gz").toURI).getPath
}
