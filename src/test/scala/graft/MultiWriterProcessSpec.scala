package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Cross-PROCESS multi-writer law for the versioned table: the commit
  * protocol's claimed contract is an atomic no-overwrite manifest
  * publish on the filesystem, which two separate JVMs exercise through
  * the kernel, not through any shared JVM state (the in-JVM race specs
  * can't see a broken createLink the way two processes can).  N writers
  * x M commits from distinct JVMs must yield N*M distinct versions with
  * no lost update, every head file live, and the txn ledger intact. */
class MultiWriterProcessSpec extends SparkSpec {

  test("two separate JVMs committing concurrently: all commits land as " +
    "distinct versions, no lost updates, merges conflict-retry " +
    "across processes") {
    val root = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_mwproc_" +
        s"${spark.sparkContext.applicationId}")
    // v1 from THIS process: the children land on top of a live table
    import spark.implicits._
    VersionedTable.append(spark, root,
      (0L until 10L).map(i => (i, "base")).toDF("doc_id", "text"),
      "doc_id", 1, op = "load")

    def spawn(writerId: Int): Process =
      ChildJvm.start("graft.MultiWriterChild", root, writerId.toString, "3")
    val numAppends = 3
    val p1 = spawn(1); val p2 = spawn(2)
    assert(p1.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
      p2.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "child writers did not finish in time")
    assert(p1.exitValue() === 0, "writer 1 failed")
    assert(p2.exitValue() === 0, "writer 2 failed")

    // 1 load + 2 writers x (3 appends + 1 merge) = 9 distinct versions,
    // gapless: the CAS loop must never skip or double-claim a slot
    val versions = VersionedTable.versions(spark, root)
    assert(versions === (1 to 9), s"got $versions")
    // every commit's op is present exactly once (no lost update: a
    // lost CAS would surface as a missing op or a duplicated slot)
    val ops = versions.map(v => VersionedTable.snapshot(spark, root, v).op)
    val expected = Seq("load") ++
      (1 to 2).flatMap(w => (0 until numAppends).map(i => s"append-w$w-$i")) ++
      Seq("merge", "merge")
    assert(ops.sorted === expected.sorted, s"ops were $ops")

    // content: base 10 + 2 writers x 3 appends x 10 rows, with each
    // writer's first batch merged to its updated text
    val head = VersionedTable.read(spark, root)
    assert(head.count() === 70)
    assert(head.filter(col("text") === "base").count() === 10)
    (1 to 2).foreach { w =>
      assert(head.filter(col("text") === s"merged-$w").count() === 10,
        s"writer $w's merge lost")
      assert(head.filter(col("text").startsWith(s"w$w-c0")).count() === 0,
        s"writer $w's merge target rows not rewritten")
    }
    // every file the head references physically exists
    VersionedTable.snapshot(spark, root, 9).files.foreach { f =>
      assert(new java.io.File(
        new org.apache.hadoop.fs.Path(f.path).toUri.getPath).exists(),
        s"head references missing file ${f.path}")
    }
    // the merges' txn ids are found in the ledger scan (idempotence
    // holds across processes too)
    (1 to 2).foreach { w =>
      assert(VersionedTable.txnCommitted(spark, root, s"mw-merge-$w"),
        s"writer $w's merge txn not committed")
    }
    ()
  }
}
