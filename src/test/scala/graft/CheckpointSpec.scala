package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The `graft.checkpoint.dir` reliable-mode contract (round-5 verdict #4):
  * iterative operators cut lineage per round, and the cut must be able to
  * survive executor loss on a real cluster. These tests pin that the two
  * modes — localCheckpoint (default) and reliable checkpoint (dir set) —
  * produce IDENTICAL results, so flipping the flag on a long cluster job
  * changes only fault-tolerance, never answers.
  */
class CheckpointSpec extends SparkSpec {

  private def withReliableDir[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoint.DirKey, dir)
    try body
    finally {
      spark.conf.unset(Checkpoint.DirKey)
      // best-effort scrub of the temp checkpoint files
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cut: default mode localCheckpoints (no checkpoint files written)") {
    import testImplicits._
    val df = (1 to 100).map(i => (i, i * 2)).toDF("a", "b")
    val cutDf = Checkpoint.cut(df)
    assert(cutDf.count() == 100)
    assert(cutDf.agg(sum("b")).head().getLong(0) == 10100L)
  }

  test("cut: reliable mode writes to the configured dir and preserves data") {
    import testImplicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoint.DirKey, dir)
    try {
      val df = (1 to 100).map(i => (i, s"v$i")).toDF("a", "s")
      val cutDf = Checkpoint.cut(df)
      assert(cutDf.collect().map(_.getInt(0)).sorted.toSeq == (1 to 100))
      // the SparkContext now has a registered checkpoint dir under ours
      val reg = spark.sparkContext.getCheckpointDir
      assert(reg.isDefined && reg.get.contains(new java.io.File(dir).getName),
        s"checkpoint dir $reg not under $dir")
    } finally spark.conf.unset(Checkpoint.DirKey)
  }

  test("cut: re-setting graft.checkpoint.dir mid-session takes effect") {
    import testImplicits._
    val dirA = java.nio.file.Files.createTempDirectory("graft-ckpt-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ckpt-b").toString
    def filesUnder(d: String): Long = {
      val p = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.exists(p)) 0L
      else java.nio.file.Files.walk(p).filter(java.nio.file.Files.isRegularFile(_)).count()
    }
    try {
      spark.conf.set(Checkpoint.DirKey, dirA)
      Checkpoint.cut((1 to 10).toDF("x")).count()
      val underA = filesUnder(dirA)
      assert(underA > 0, "first cut must land under dirA")
      // move the checkpoint storage mid-session (e.g. a different volume):
      // the next cut must follow the conf, not keep writing to dirA
      spark.conf.set(Checkpoint.DirKey, dirB)
      Checkpoint.cut((1 to 10).toDF("y")).count()
      assert(filesUnder(dirB) > 0, "cut after re-set must land under dirB")
      assert(filesUnder(dirA) == underA, "no new files under the old dir")
    } finally {
      spark.conf.unset(Checkpoint.DirKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirA))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirB))
    }
  }

  test("large/small-star CC: identical labels in both modes too") {
    import testImplicits._
    val ids = (1L to 12L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 7L),
      (8L, 9L), (10L, 11L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponentsStars(ids, pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val reliable = withReliableDir {
      Dedup.connectedComponentsStars(ids, pairs)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(local == reliable)
    assert(local.map(_._2).distinct.size == 5)
  }
}
