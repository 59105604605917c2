package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** The lifecycle every persisted warehouse layout shares: the inverted
  * index (`Retrieval`), the LSH index (`LshIndex`), the dedup feature
  * index (`DedupIndex`), the bucketed CDC bases (`Cdc`), the IVF index,
  * its codebooks and the LSH bucket index (`Similarity`, all kinds of
  * the IVF family) and the streaming corpus state (`StreamOps`). A
  * family keeps only its own policy (what it writes, reattach DDL,
  * append markers, batch partitions); this module owns
  * the rest, so every family gets the same guarantees:
  *
  *  - '''Naming.''' A table or dir is `<prefix><kind>_<pathdig>_<stampdig>`
  *    ([[DirKeys.generation]]): the canonical data dir's digest and the
  *    content stamp of the family's source file. A regenerated source
  *    rolls every name, so nothing built over old rows is served, and
  *    [[WarehouseGC]] recomputes the live pair from the data dir alone
  *    to reclaim superseded generations. A [[Generation]] handle walks
  *    the source once and names every kind from that one key; it is
  *    per call, never cached, so a live JVM sees a roll too.
  *  - '''Complete-or-rebuild''' ([[Generation.ensure]]). A kind set is
  *    served only when its sentinel matches and every kind is
  *    registered in this session's catalog (or the family attaches it).
  *    The sentinel is a file next to the tables, never inside one, so
  *    no DROP or swap touches it; it names the family, kinds,
  *    generation and bucket count and is written LAST. Anything less —
  *    a build killed between kinds, a missing or stale sentinel, a
  *    previous JVM's leftover dirs — is swept, cleared (catalog entry,
  *    warehouse dir, staging) and rebuilt whole. A catalog-only check
  *    could not tell a complete index from one another JVM left half
  *    written. Builds of one family are serialized within the JVM.
  *  - '''Staging swap''' ([[Generation.rewrite]]). A table is rewritten
  *    into `<name>_compacting` with bucketed reading pinned on (with no
  *    join or aggregate in the plan, DisableUnnecessaryBucketedScan
  *    would downgrade to a size-split scan and the writer would split
  *    every task by bucket: 64 files in, 64 files "compacted"). Then the
  *    live copy's `_SUCCESS` is deleted, the live table dropped and the
  *    staging renamed over it; a partitioned table is re-listed, as the
  *    rename leaves its partitions pointing at the staging path.
  *  - '''Recovery''' ([[Generation.recover]]), before every serve and
  *    rewrite. A swap killed between DROP and RENAME leaves the staged
  *    copy as the only complete one; rebuilding from the source instead
  *    would discard every batch appended since the build. With the
  *    staging still registered (a failure inside this JVM) the rename
  *    is finished. After a restart the catalog knows neither table and
  *    the dirs decide: a staged dir with `_SUCCESS` is promoted unless
  *    the main dir still has its `_SUCCESS` — which the swap deletes
  *    before its DROP, so it proves the swap never got past staging and
  *    the main copy may hold rows appended since. Any other staging is
  *    removed.
  */
object Persisted {

  /** A persisted family: its name prefix and the source table file whose
    * content stamp keys its generation. Its builds lock on it. */
  final class Family(val prefix: String, val source: String) {
    private[Persisted] def named(kind: String, key: String): String =
      s"$prefix${kind}_$key"

    /** One name, walking the source: for one-off lookups. */
    def name(d: String, kind: String): String =
      named(kind, DirKeys.generation(d, source))
  }

  val Inverted = new Family("graft_invidx_", "documents.parquet")
  val Lsh = new Family("graft_lshidx_", "documents.parquet")
  val DedupFeatures = new Family("graft_ddidx_", "documents.parquet")
  val CorpusState = new Family("graft_strmcorp_", "documents.parquet")
  val CdcBase = new Family("graft_cdcbase_", "orders.parquet")
  val Ivf = new Family("graft_ivfidx_", "embeddings.parquet")

  /** Every persisted family; [[WarehouseGC]] sweeps exactly these. */
  val Families: Seq[Family] = Seq(Inverted, Lsh, DedupFeatures, CorpusState, CdcBase, Ivf)

  private val Staging = "_compacting"
  private val AutoBucketedScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

  def warehouse(s: SparkSession): Path =
    Paths.get(java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath)

  /** Delete a file or a directory tree; absent is fine. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p) // holds a dir fd until closed
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
      finally walk.close()
    }

  def apply(s: SparkSession, fam: Family, d: String): Generation = new Generation(s, fam, d)

  /** The live generation of `fam` over data dir `d`. */
  final class Generation private[Persisted] (val s: SparkSession, fam: Family,
                                             val d: String) {
    val key: String = DirKeys.generation(d, fam.source)

    def name(kind: String): String = fam.named(kind, key)
    def dir(kind: String): Path = warehouse(s).resolve(name(kind))
    def table(kind: String): DataFrame = s.table(name(kind))
    def registered(kind: String): Boolean = s.catalog.tableExists(name(kind))

    private[graft] def sentinel(kinds: Seq[String]): Path =
      warehouse(s).resolve(name(kinds.mkString("+")) + "_ok")

    private def proof(kinds: Seq[String], buckets: Int): String =
      s"family=${fam.prefix}\nkinds=${kinds.mkString(",")}\ngeneration=$key\nbuckets=$buckets\n"

    /** Recover any interrupted swap, then true when `kinds` hold a
      * complete generation written with `buckets`: the sentinel matches
      * and every kind is registered, or `attach` registers them. */
    private def current(kinds: Seq[String], buckets: Int = 0,
                attach: () => Boolean = () => false): Boolean = fam.synchronized {
      recover(kinds)
      val p = sentinel(kinds)
      Files.exists(p) && Files.readString(p) == proof(kinds, buckets) &&
        (kinds.forall(registered) || attach())
    }

    /** Serve `kinds` if [[current]], else sweep, clear and `build` them,
      * writing the sentinel last. */
    def ensure(kinds: Seq[String], buckets: Int = 0,
               attach: () => Boolean = () => false)(build: => Unit): Unit =
      fam.synchronized {
        if (!current(kinds, buckets, attach)) {
          WarehouseGC.sweep(s, d)
          invalidate(kinds)
          kinds.foreach(k => Seq(name(k), name(k) + Staging).foreach(drop))
          build
          Files.writeString(sentinel(kinds), proof(kinds, buckets))
        }
      }

    /** Forget that `kinds` are complete: the next [[ensure]] rebuilds. */
    def invalidate(kinds: Seq[String]): Unit = Files.deleteIfExists(sentinel(kinds))

    /** Rewrite registered table `kind` through the staging swap; `write`
      * shapes the writer (bucketing, partitioning) over the live rows. */
    def rewrite(kind: String)(write: DataFrame => DataFrameWriter[Row]): Unit =
      fam.synchronized {
        recover(Seq(kind))
        if (registered(kind)) {
          GraftSession.withConf(s, AutoBucketedScan -> "false") {
            write(table(kind)).format("parquet").mode("overwrite")
              .saveAsTable(name(kind) + Staging)
          }
          Files.deleteIfExists(dir(kind).resolve("_SUCCESS"))
          drop(name(kind))
          rename(name(kind) + Staging, name(kind))
        }
      }

    /** Finish or discard the staging swap of each of `kinds`. */
    def recover(kinds: Seq[String]): Unit = fam.synchronized {
      kinds.foreach { k =>
        val staged = warehouse(s).resolve(name(k) + Staging)
        if (registered(k)) drop(name(k) + Staging)
        else if (s.catalog.tableExists(name(k) + Staging)) {
          delete(dir(k))
          rename(name(k) + Staging, name(k))
        } else if (Files.exists(staged)) {
          if (Files.exists(staged.resolve("_SUCCESS")) &&
              !Files.exists(dir(k).resolve("_SUCCESS"))) {
            delete(dir(k))
            Files.move(staged, dir(k))
          } else delete(staged)
        }
      }
    }

    /** Drop a table and its dir: an external table's DROP keeps it. */
    private def drop(table: String): Unit = {
      if (s.catalog.tableExists(table)) s.sql(s"DROP TABLE `$table`")
      delete(warehouse(s).resolve(table))
    }

    private def rename(from: String, to: String): Unit = {
      s.sql(s"ALTER TABLE `$from` RENAME TO `$to`")
      if (s.sessionState.catalog.getTableMetadata(TableIdentifier(to))
          .partitionColumnNames.nonEmpty)
        s.sql(s"MSCK REPAIR TABLE `$to`")
    }
  }
}
