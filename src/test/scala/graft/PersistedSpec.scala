package graft

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-layout lifecycle on a toy family of two kinds: `a` is
  * bucketed (the index shape), `b` is partitioned by `batch` (the
  * streaming-state shape). Each test builds over its own scratch dir.
  */
class PersistedSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SharedSpark.spark
  import spark.implicits._

  private val Toy = new Persisted.Family("graft_toy_", "documents.parquet")
  private val Kinds = Seq("a", "b")

  // not a GC family: its warehouse entries are removed here
  override def afterAll(): Unit = {
    val wh = Persisted.warehouse(spark)
    val list = Files.list(wh)
    try list.filter(_.getFileName.toString.startsWith(Toy.prefix)).forEach { p =>
      spark.sql(s"DROP TABLE IF EXISTS `${p.getFileName}`")
      Persisted.delete(p)
    } finally list.close()
  }

  private def scratch(): Persisted.Generation = {
    val d = Files.createTempDirectory("graft_toy_spec").toString
    Seq((1L, "x")).toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    Persisted(spark, Toy, d)
  }

  private def write(g: Persisted.Generation, kind: String, ids: Seq[Long],
                    mode: String = "overwrite"): Unit = kind match {
    case "a" => ids.toDF("id").write.bucketBy(4, "id").sortBy("id")
      .mode(mode).format("parquet").saveAsTable(g.name("a"))
    case "b" => ids.map(i => (i, i / 4)).toDF("id", "batch").write.partitionBy("batch")
      .mode(mode).format("parquet").saveAsTable(g.name("b"))
  }

  private def rows(g: Persisted.Generation, kind: String): Set[Long] =
    g.table(kind).select("id").as[Long].collect().toSet

  /** The toy's reattach: external tables over the surviving dirs. */
  private def reattach(g: Persisted.Generation): () => Boolean = () => {
    if (!g.registered("a"))
      spark.sql(s"CREATE TABLE `${g.name("a")}` (id BIGINT) USING parquet " +
        s"CLUSTERED BY (id) SORTED BY (id) INTO 4 BUCKETS LOCATION '${g.dir("a").toUri}'")
    if (!g.registered("b")) {
      spark.sql(s"CREATE TABLE `${g.name("b")}` (id BIGINT, batch BIGINT) USING parquet " +
        s"PARTITIONED BY (batch) LOCATION '${g.dir("b").toUri}'")
      spark.sql(s"MSCK REPAIR TABLE `${g.name("b")}`")
    }
    true
  }

  /** Times `ensure` ran the build: 0 = served, 1 = rebuilt. */
  private def builds(g: Persisted.Generation,
                     attach: () => Boolean = () => false): Int = {
    var n = 0
    g.ensure(Kinds, 4, attach) {
      n += 1
      Kinds.foreach(write(g, _, 1L to 3L))
    }
    n
  }

  /** A staging swap killed between its DROP and its RENAME. */
  private def killMidSwap(g: Persisted.Generation, kind: String): Unit = {
    val w = g.table(kind).write.format("parquet")
    (if (kind == "b") w.partitionBy("batch") else w.bucketBy(4, "id").sortBy("id"))
      .saveAsTable(g.name(kind) + "_compacting")
    Files.deleteIfExists(g.dir(kind).resolve("_SUCCESS"))
    spark.sql(s"DROP TABLE `${g.name(kind)}`")
  }

  /** A JVM restart: the catalog forgets `tables`, their dirs survive. */
  private def loseCatalog(tables: Seq[String]): Unit = tables.foreach { t =>
    val dir = Persisted.warehouse(spark).resolve(t)
    val stash = Files.createTempDirectory("graft_toy_stash").resolve(t)
    copy(dir, stash)
    spark.sql(s"DROP TABLE `$t`")
    copy(stash, dir)
  }

  private def copy(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  test("a build killed between kinds is rebuilt whole") {
    val g = scratch()
    intercept[IllegalStateException](g.ensure(Kinds, 4) {
      write(g, "a", Seq(9L))
      throw new IllegalStateException("killed before kind b")
    })
    assert(g.registered("a") && !g.registered("b"))
    assert(builds(g) === 1)
    Kinds.foreach(k => assert(rows(g, k) === Set(1L, 2L, 3L), k))
    assert(builds(g) === 0)
    // killed after its last kind but before it returned: every table is
    // registered, only the missing sentinel tells
    val h = scratch()
    intercept[IllegalStateException](h.ensure(Kinds, 4) {
      Kinds.foreach(write(h, _, Seq(9L)))
      throw new IllegalStateException("killed before the build returned")
    })
    assert(builds(h) === 1)
    Kinds.foreach(k => assert(rows(h, k) === Set(1L, 2L, 3L), k))
  }

  test("registered tables whose sentinel is missing or stale are rebuilt, not served") {
    val g = scratch()
    assert(builds(g) === 1)
    def appendMarker(): Unit = write(g, "a", Seq(7L), "append") // only a rebuild drops it
    appendMarker()
    assert(builds(g) === 0 && rows(g, "a").contains(7L)) // complete: served as is
    g.invalidate(Kinds) // missing
    assert(builds(g) === 1 && !rows(g, "a").contains(7L))
    Seq("buckets=4" -> "buckets=8", s"generation=${g.key}" -> "generation=x",
        "kinds=a,b" -> "kinds=a").foreach { case (from, to) =>
      appendMarker()
      Files.writeString(g.sentinel(Kinds), Files.readString(g.sentinel(Kinds)).replace(from, to))
      assert(builds(g) === 1, to)
      assert(rows(g, "a") === Set(1L, 2L, 3L), to)
    }
    // a complete generation this catalog does not know is rebuilt unless
    // the family attaches it
    loseCatalog(Kinds.map(g.name))
    assert(builds(g) === 1)
  }

  test("a compaction killed between DROP and RENAME loses no rows, with or without catalog loss") {
    // inside the JVM: the staging is still registered, the rename is finished
    val g = scratch()
    builds(g)
    Kinds.foreach(write(g, _, Seq(4L, 5L), "append"))
    Kinds.foreach(killMidSwap(g, _))
    assert(builds(g) === 0)
    Kinds.foreach(k => assert(rows(g, k) === (1L to 5L).toSet, k))
    assert(g.table("b").select("batch").distinct().count() === 2L) // partitions re-listed
    // after a restart: the catalog knows neither table, the dirs decide
    val h = scratch()
    builds(h)
    Kinds.foreach(write(h, _, Seq(4L, 5L), "append"))
    Kinds.foreach(killMidSwap(h, _))
    loseCatalog(Kinds.map(h.name(_) + "_compacting"))
    assert(builds(h, reattach(h)) === 0)
    Kinds.foreach(k => assert(rows(h, k) === (1L to 5L).toSet, k))
    Kinds.foreach(k => assert(!Files.exists(Persisted.warehouse(spark)
      .resolve(h.name(k) + "_compacting")), k))
  }

  test("a stale staging dir never beats a current main table") {
    val g = scratch()
    builds(g)
    // a swap that died before its DROP left a staged copy of the old rows …
    Kinds.foreach { k =>
      val w = g.table(k).write.format("parquet")
      (if (k == "b") w.partitionBy("batch") else w).saveAsTable(g.name(k) + "_compacting")
    }
    // … and a batch appended to the main tables since then
    Kinds.foreach(write(g, _, Seq(4L), "append"))
    loseCatalog(Kinds.flatMap(k => Seq(g.name(k), g.name(k) + "_compacting")))
    assert(builds(g, reattach(g)) === 0)
    Kinds.foreach(k => assert(rows(g, k) === (1L to 4L).toSet, k))
    Kinds.foreach(k => assert(!Files.exists(Persisted.warehouse(spark)
      .resolve(g.name(k) + "_compacting")), k))
    // inside the JVM the registered main wins the same way
    Kinds.foreach(k => g.table(k).write.format("parquet").saveAsTable(g.name(k) + "_compacting"))
    g.recover(Kinds)
    Kinds.foreach(k => assert(!spark.catalog.tableExists(g.name(k) + "_compacting"), k))
    Kinds.foreach(k => assert(rows(g, k) === (1L to 4L).toSet, k))
  }
}
