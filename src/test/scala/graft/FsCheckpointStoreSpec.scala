package graft

import org.apache.hadoop.fs.Path

import graft.sources.FsCheckpointStore

class FsCheckpointStoreSpec extends SparkSuite {

  test("empty store reads as no checkpoints") {
    val store = FsCheckpointStore(spark, tmpDir("ck"))
    assert(store.latest().count() === 0)
    assert(store.latestMap() === Map.empty[Int, Long])
  }

  test("latest-per-key over the commit log; later commits supersede") {
    import spark.implicits._
    val store = FsCheckpointStore(spark, tmpDir("ck"))
    store.commit(Seq((0, 4L), (1, 9L)).toDF("part_id", "ckpt_offset"))
    store.commit(Seq((0, 14L)).toDF("part_id", "ckpt_offset"))
    assert(store.latestMap() === Map(0 -> 14L, 1 -> 9L))
  }

  test("a lower or equal late commit never regresses the checkpoint") {
    // reference checkpoint_store_test.go "Should not update the
    // offset": Save with an offset <= the stored one is a no-op read.
    import spark.implicits._
    val store = FsCheckpointStore(spark, tmpDir("ck"))
    store.commit(Seq((0, 42L)).toDF("part_id", "ckpt_offset"))
    store.commit(Seq((0, 41L)).toDF("part_id", "ckpt_offset"))
    store.commit(Seq((0, 42L)).toDF("part_id", "ckpt_offset"))
    assert(store.latestMap() === Map(0 -> 42L))
    store.compactLog()
    assert(store.latestMap() === Map(0 -> 42L))
  }

  test("compactLog keeps the latest per key and shrinks the log") {
    import spark.implicits._
    val store = FsCheckpointStore(spark, tmpDir("ck"))
    (1 to 5).foreach { i =>
      store.commit(Seq((0, i * 10L), (1, i * 3L)).toDF("part_id", "ckpt_offset"))
    }
    val before = store.latestMap()
    store.compactLog()
    assert(store.latestMap() === before)
    assert(before === Map(0 -> 50L, 1 -> 15L))
    // the compacted log is one record per key (one parquet row group)
    assert(spark.read.parquet(store.root + "/commits").count() === 2)
    // commits after compaction still supersede
    store.commit(Seq((1, 99L)).toDF("part_id", "ckpt_offset"))
    assert(store.latestMap() === Map(0 -> 50L, 1 -> 99L))
  }

  test("a crash between compaction's two renames is recovered, not an empty store") {
    import spark.implicits._
    val root = tmpDir("ck-crash")
    val store = FsCheckpointStore(spark, root)
    store.commit(Seq((0, 4L), (1, 9L)).toDF("part_id", "ckpt_offset"))
    store.commit(Seq((0, 14L)).toDF("part_id", "ckpt_offset"))
    val before = store.latestMap()
    assert(before === Map(0 -> 14L, 1 -> 9L))
    // simulate the worst window of compactLog(): the compacted copy is
    // written and commits/ is gone, but the promote rename never ran
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    store.latest().write.parquet(s"$root/commits_compact")
    assert(fs.delete(new Path(s"$root/commits"), true))
    // a fresh open reads the checkpoints from before the crash
    val reopened = FsCheckpointStore(spark, root)
    assert(reopened.latestMap() === before)
    // and a commit made after recovery still supersedes them
    reopened.commit(Seq((1, 99L)).toDF("part_id", "ckpt_offset"))
    assert(reopened.latestMap() === Map(0 -> 14L, 1 -> 99L))
  }
}
