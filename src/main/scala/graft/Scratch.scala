package graft

import java.nio.file.{Files, Path}

/** The one lifecycle for the JVM's scratch dirs: staged source copies,
  * paced re-splits, stream checkpoints and work dirs. Each lives exactly
  * as long as the JVM, the way the reference's file source and fold
  * state live as long as the run.
  *
  *  - '''Keyed on the source generation.''' [[dir]] keys a dir on
  *    `(tag, source, DirKeys.generation(d, source), extra)`, with the
  *    generation [[Persisted]] names tables by: the canonical path
  *    digest plus the source file's content stamp. Every spelling of
  *    one data dir shares the dir, and a source regenerated in place
  *    gets a fresh one, so no stream replays a stale copy into state
  *    built for the new rows.
  *  - '''Once per key.''' The dir is made and `init` run on it at the
  *    key's first call in the JVM. [[fresh]] makes a new dir per call.
  *  - '''Deleted at exit.''' One hook deletes every dir made here,
  *    recursively, after Spark's own hook has stopped the context (a
  *    `deleteOnExit` dir is only deleted when empty).
  */
object Scratch {

  private val dirs = scala.collection.mutable.Map.empty[(String, String, String, String), Path]
  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** Hadoop runs its shutdown hooks one at a time by descending
    * priority; Spark's, which stops the context, has priority 40. */
  private lazy val exitHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => { purge(); () }, 20)

  /** The JVM's dir for `tag` over `source` in data dir `d`, made and
    * handed to `init` on first use. */
  def dir(tag: String, d: String, source: String, extra: String = "")(
      init: Path => Unit): Path = synchronized {
    val key = (tag, source, DirKeys.generation(d, source), extra)
    dirs.getOrElse(key, {
      val t = fresh(tag)
      init(t)
      dirs(key) = t
      t
    })
  }

  /** A new dir on every call, deleted at exit like the rest. */
  def fresh(tag: String): Path = synchronized {
    exitHook
    val t = Files.createTempDirectory(s"graft_scratch_${tag}_")
    made += t
    t
  }

  /** The exit hook's body: delete every dir made here and forget it.
    * Returns the deleted dirs. */
  private[graft] def purge(): Seq[Path] = synchronized {
    val gone = made.toSeq
    gone.foreach(Persisted.delete)
    made.clear()
    dirs.clear()
    gone
  }
}
