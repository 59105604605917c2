package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {
  import SharedSpark.spark

  private def fill(t: Path): Unit = {
    Files.createDirectories(t.resolve("a/b"))
    Files.writeString(t.resolve("a/b/c"), "x")
  }

  test("scratch dirs: one per source generation, and the exit hook's body deletes exactly those") {
    val root = Files.createTempDirectory("graft_scratchspec_")
    val src = root.resolve("t.parquet")
    Files.writeString(src, "v1")
    // same prefix as the helper's own dirs: the purge goes by what it made
    val foreign = Files.createTempDirectory("graft_scratch_foreign_")
    fill(foreign)
    try {
      var inits = 0
      val keyed = Scratch.dir("spec", root.toString, "t.parquet") { t => inits += 1; fill(t) }
      // every spelling of the data dir shares the dir; init ran once
      assert(Scratch.dir("spec", root.toString + "/.", "t.parquet") { _ => inits += 1 } === keyed)
      assert(inits === 1)
      // a source regenerated in place gets a fresh dir
      Thread.sleep(10)
      Files.writeString(src, "v2, longer")
      val rolled = Scratch.dir("spec", root.toString, "t.parquet") { t => inits += 1; fill(t) }
      assert(rolled != keyed && inits == 2)
      val perCall = Scratch.fresh("spec")
      fill(perCall)
      assert(Scratch.fresh("spec") !== perCall)

      val gone = Scratch.purge()
      Seq(keyed, rolled, perCall).foreach { t =>
        assert(gone.contains(t))
        assert(!Files.exists(t), s"$t survived the purge")
      }
      assert(Files.exists(foreign.resolve("a/b/c")) && Files.exists(src))
      // the purge also forgets: the next call makes and inits a new dir
      val again = Scratch.dir("spec", root.toString, "t.parquet") { _ => inits += 1 }
      assert(Files.isDirectory(again) && inits == 3)
    } finally Seq(root, foreign).foreach(Persisted.delete)
  }

  test("withConf restores a set key and unsets a key that was absent") {
    val set = "spark.sql.shuffle.partitions"
    val absent = "spark.graft.spec.unsetKey"
    val before = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(absent))
    val inside = GraftSession.withConf(spark, set -> "3", absent -> "dynamic") {
      (spark.conf.get(set), spark.conf.get(absent))
    }
    assert(inside === (("3", "dynamic")))
    assert(spark.conf.get(set) === before)
    assert(!spark.conf.getAll.contains(absent))
    // restored on failure too
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "5") { throw new IllegalStateException("boom") }
    }
    assert(spark.conf.get(set) === before)
  }
}
