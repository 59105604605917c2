package graft

/** Canonical short keys for data directories — the generation keys
  * [[Persisted]] names every persisted artifact from, and the digests
  * [[WarehouseGC]] classifies them by. One definition so a future
  * canonicalization fix cannot silently diverge the two key spaces.
  */
object DirKeys {

  /** Canonical absolute form of a path: symlink-resolved when the path
    * exists, normalized-absolute otherwise.
    */
  def canonical(d: String): String = {
    val p = java.nio.file.Paths.get(d)
    try p.toRealPath().toString
    catch { case _: java.io.IOException => p.toAbsolutePath.normalize.toString }
  }

  /** 16-hex-char sha-256 prefix over the canonical path plus any extra
    * salt parts (e.g. a data-file freshness stamp).
    */
  def digest(d: String, salt: String*): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest((canonical(d) +: salt).mkString("|").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** 16-hex-char sha-256 of an arbitrary string — NO path
    * canonicalization (that's [[digest]]'s job). Used to render a
    * [[contentStamp]] as a fixed-width name component.
    */
  def hex16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Generation key of a persisted artifact namespace: the data dir's
    * path digest and its source file's freshness stamp as SEPARATE
    * 16-hex components (`<pathdigest>_<stampdigest>`), instead of one
    * digest folding both. Separating them is what makes garbage
    * collectible: [[WarehouseGC]] recomputes the LIVE pair from the
    * source path alone and can classify any warehouse dir as
    * live / stale-generation / other-data-dir without a registry of
    * past stamps (the round-7 finding: stamp rolls orphaned every
    * previous generation on disk, unboundedly).
    */
  def generation(d: String, sourceFileName: String): String = {
    val src = java.nio.file.Paths.get(d, sourceFileName).toString
    s"${digest(d)}_${hex16(contentStamp(src))}"
  }

  /** Freshness stamp of a source data file or parquet directory: an
    * order-insensitive digest of every regular file's relative name,
    * size and mtime (or size_mtime for a plain file). Every persisted
    * artifact NAMESPACE derived from a source table folds this into its
    * [[digest]] salt — the Similarity-codebook convention applied
    * uniformly — so a REGENERATED testdata dir (the driver does this
    * between rounds) rolls the artifact key instead of silently
    * reattaching an index built over the old rows. Recomputed on every
    * call (never JVM-cached): a live session must observe the roll too,
    * the round-4 codebook lesson.
    */
  def contentStamp(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    try {
      if (java.nio.file.Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(p)
        val parts =
          try walk.iterator().asScala
            .filter(f => java.nio.file.Files.isRegularFile(f))
            .map(f => s"${p.relativize(f)}:${java.nio.file.Files.size(f)}:" +
              s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
            .toSeq.sorted
          finally walk.close()
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(parts.mkString("\n").getBytes("UTF-8"))
          .take(8).map("%02x".format(_)).mkString
      } else
        s"${java.nio.file.Files.size(p)}_" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
    } catch { case _: java.io.IOException => "nofile" }
  }
}
