package graft

import org.apache.spark.storage.RDDBlockId

import graft.operators.Traversals
import graft.queries.SessionMemo

/** Lifecycle guarantees of the shared staged-artifact memo (r12
  * ADVICE): re-entrant builds must not hit ConcurrentHashMap's
  * recursive-update restriction, and a fixture refresh must release —
  * not strand — the superseded entry's storage blocks. */
class SessionMemoSpec extends SparkSpec {

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).toDF("v").localCheckpoint(true)
  }

  private def blockLive(ids: Set[Int]): Boolean = {
    val bm = org.apache.spark.SparkEnv.get.blockManager.master
    ids.exists(id => bm.getMatchingBlockIds(
      { case RDDBlockId(rid, _) => ids.contains(rid); case _ => false },
      askStorageEndpoints = true).nonEmpty)
  }

  test("a build may consult the same memo for its dependency " +
       "(the bipartiteEo -> bipartiteEdges shape)") {
    val memo = new SessionMemo
    // Many tags sharing one map maximises the chance of same-bin keys,
    // the layout computeIfAbsent-based memos crashed on; with the
    // build-outside-putIfAbsent design every nesting depth is safe.
    (1 to 64).foreach { i =>
      val derived = memo(spark, "/tmp", s"dep_$i", 7L) { df(3) }
      val top = memo(spark, "/tmp", s"top_$i", 7L) {
        memo(spark, "/tmp", s"inner_$i", 7L)(df(2)).union(derived)
          .localCheckpoint(true)
      }
      assert(top.count() === 5)
    }
  }

  test("same key is served from the memo, not rebuilt") {
    val memo = new SessionMemo
    var builds = 0
    def get() = memo(spark, "/tmp", "stable", 1L) { builds += 1; df(4) }
    assert(get().count() === 4)
    assert(get().count() === 4)
    assert(builds === 1)
    assert(memo.entryCount(spark, "/tmp", "stable") === 1)
  }

  test("a fixture refresh (new fingerprint) evicts the stale entry " +
       "AND drops its checkpoint blocks") {
    val memo = new SessionMemo
    val v1 = memo(spark, "/tmp", "refresh", 1L) { df(10) }
    val v1Blocks = Traversals.checkpointRddIds(v1)
    assert(v1Blocks.nonEmpty)
    assert(blockLive(v1Blocks), "precondition: v1's checkpoint is stored")
    val v2 = memo(spark, "/tmp", "refresh", 2L) { df(20) }
    assert(v2.count() === 20)
    assert(memo.entryCount(spark, "/tmp", "refresh") === 1,
      "stale fingerprint entry must be removed on refresh")
    // unpersist is async (blocking = false): poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (blockLive(v1Blocks) && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(!blockLive(v1Blocks),
      "superseded entry's localCheckpoint blocks must be unpersisted")
  }

  test("release(session, dir, tag) drops every entry of that (dir, tag) and its blocks, " +
       "and nothing else") {
    val memo = new SessionMemo
    val released = memo(spark, "/tmp/rel_a", "t", 1L) { df(3) }
    val otherTag = memo(spark, "/tmp/rel_a", "u", 1L) { df(5) }
    val otherDir = memo(spark, "/tmp/rel_b", "t", 1L) { df(6) }
    val gone = Traversals.checkpointRddIds(released)
    val kept = Traversals.checkpointRddIds(otherTag) ++ Traversals.checkpointRddIds(otherDir)
    memo.release(spark, "/tmp/rel_a", "t")
    assert(memo.entryCount(spark, "/tmp/rel_a", "t") === 0)
    assert(!blockLive(gone), "release is blocking: the blocks are gone when it returns")
    intercept[Exception] { released.count() }
    assert(memo.entryCount(spark, "/tmp/rel_a", "u") === 1)
    assert(memo.entryCount(spark, "/tmp/rel_b", "t") === 1)
    assert(kept.forall(id => blockLive(Set(id))))
    assert(otherTag.count() === 5 && otherDir.count() === 6)
    // a released key builds afresh
    var builds = 0
    assert(memo(spark, "/tmp/rel_a", "t", 1L) { builds += 1; df(7) }.count() === 7)
    assert(builds === 1)
  }

  test("a refresh keeps blocks another live entry's plan still reads") {
    val memo = new SessionMemo
    val base = memo(spark, "/tmp", "shared_base", 1L) { df(6) }
    // persisted-on-top-of-checkpoint, the pageRankEdgeTable shape: its
    // plan leaf IS base's LogicalRDD
    val dependent = memo(spark, "/tmp", "shared_dep", 1L) {
      base.filter(org.apache.spark.sql.functions.col("v") > 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    assert(dependent.count() === 5)
    // refresh ONLY the base tag; the dependent still references base's
    // checkpoint block, so the release must keep it readable
    val base2 = memo(spark, "/tmp", "shared_base", 2L) { df(8) }
    assert(base2.count() === 8)
    assert(dependent.count() === 5,
      "dependent plan must stay computable after its dependency's tag refreshes")
  }

  /** A table stage writing `n` rows, recording the table name and dir
    * it was given. */
  private def rangeTable(n: Int, made: collection.mutable.Buffer[(String, java.nio.file.Path)])
                        (name: String, dir: java.nio.file.Path): Unit = {
    made += name -> dir
    spark.range(n).write.format("parquet")
      .option("path", dir.resolve("t").toString).saveAsTable(name)
  }

  test("a table entry under a new fingerprint drops the old table and deletes its dir") {
    val memo = new SessionMemo
    val made = collection.mutable.Buffer.empty[(String, java.nio.file.Path)]
    assert(memo.table(spark, "/tmp", "tbl_refresh", 1L)(rangeTable(3, made)).count() === 3)
    assert(memo.table(spark, "/tmp", "tbl_refresh", 1L)(rangeTable(99, made)).count() === 3)
    val Seq((oldName, oldDir)) = made.toSeq
    assert(spark.catalog.tableExists(oldName) && java.nio.file.Files.exists(oldDir))
    assert(memo.table(spark, "/tmp", "tbl_refresh", 2L)(rangeTable(5, made)).count() === 5)
    val (newName, newDir) = made.last
    assert(newName != oldName && newDir != oldDir)
    assert(memo.entryCount(spark, "/tmp", "tbl_refresh") === 1)
    assert(!spark.catalog.tableExists(oldName), "the superseded table must be dropped")
    assert(!java.nio.file.Files.exists(oldDir), "the superseded table's dir must be deleted")
    assert(spark.catalog.tableExists(newName) && java.nio.file.Files.exists(newDir))
    memo.release(spark, "/tmp", "tbl_refresh")
  }

  test("a table build may consult the same memo for another table and a checkpoint") {
    val memo = new SessionMemo
    val made = collection.mutable.Buffer.empty[(String, java.nio.file.Path)]
    (1 to 64).foreach { i =>
      val top = memo.table(spark, "/tmp", s"tbl_top_$i", 7L) { (name, dir) =>
        val inner = memo.table(spark, "/tmp", s"tbl_inner_$i", 7L)(rangeTable(2, made))
        val staged = memo(spark, "/tmp", s"tbl_ckpt_$i", 7L)(df(3))
        inner.union(staged.selectExpr("CAST(v AS BIGINT) AS id"))
          .write.format("parquet").option("path", dir.resolve("t").toString).saveAsTable(name)
      }
      assert(top.count() === 5)
    }
    (1 to 64).foreach(i => Seq("top", "inner").foreach(k =>
      memo.release(spark, "/tmp", s"tbl_${k}_$i")))
  }

  test("release on a table entry drops its table and dir; the next call rebuilds it") {
    val memo = new SessionMemo
    val made = collection.mutable.Buffer.empty[(String, java.nio.file.Path)]
    val first = memo.table(spark, "/tmp", "tbl_release", 1L)(rangeTable(4, made))
    assert(first.count() === 4)
    val Seq((name, dir)) = made.toSeq
    memo.release(spark, "/tmp", "tbl_release")
    assert(memo.entryCount(spark, "/tmp", "tbl_release") === 0)
    assert(!spark.catalog.tableExists(name) && !java.nio.file.Files.exists(dir))
    assert(memo.table(spark, "/tmp", "tbl_release", 1L)(rangeTable(6, made)).count() === 6)
    assert(made.size === 2, "a released table entry builds afresh")
    memo.release(spark, "/tmp", "tbl_release")
  }
}
