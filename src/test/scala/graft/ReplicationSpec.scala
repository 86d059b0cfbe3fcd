package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.streaming.VersionedSource

/** End-to-end CDC replication assembled from the engine's own pieces:
  * the change-feed FOLLOWER streams a source table's commits and a
  * txn-ledgered MERGE/DELETE applies each version's feed to a target
  * table — per-version transaction ids make the target exactly-once
  * even though follower delivery is at-least-once.  This is the
  * cross-region / cross-environment corpus-mirroring construction a
  * 100 TB deployment runs: only the per-commit feed ever moves, never
  * the table. */
class ReplicationSpec extends SparkSpec with TempDirs {

  test("follower + txn-ledgered apply replicate the source exactly, " +
    "across restarts and further commits") {
    import spark.implicits._
    val dir = tempDir("graft_repl")
    val src = s"$dir/src"; val dst = s"$dir/dst"; val chk = s"$dir/chk"

    // source history: load, upsert (update 5..9 + insert 10..14)
    VersionedTable.append(spark, src,
      (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    VersionedTable.merge(spark, src,
      (5L until 15L).map(i => (i, s"u$i")).toDF("doc_id", "text"),
      "doc_id", 2)

    /** Apply one version's feed to the target: inserts upsert (covers
      * updates — the feed encodes them as delete+insert pairs), PURE
      * deletes (keys with no matching insert) delete.  Each op carries
      * a version-derived txn id, so a replayed feed is a no-op. */
    def apply(feed: org.apache.spark.sql.DataFrame, v: Int): Unit = {
      val f = feed.drop("_bootstrap").persist()
      val ins = f.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val pureDeleteKeys = f.filter(col("_change_type") === "delete")
        .select(col("doc_id"))
        .except(ins.select(col("doc_id")))
        .collect().map(_.getLong(0))
      if (!ins.isEmpty) {
        if (VersionedTable.latestVersion(spark, dst).isEmpty)
          VersionedTable.append(spark, dst, ins, "doc_id", 2,
            op = "load", txnId = Some(s"repl#$v#m"))
        else
          VersionedTable.merge(spark, dst, ins, "doc_id", 2,
            txnId = Some(s"repl#$v#m"))
      }
      if (pureDeleteKeys.nonEmpty)
        VersionedTable.delete(spark, dst,
          col("doc_id").isin(pureDeleteKeys.toIndexedSeq: _*),
          "doc_id", 2, txnId = Some(s"repl#$v#d"))
      f.unpersist()
      ()
    }
    def mirrorOnce(): Unit = {
      val q = VersionedSource.followChanges(spark, src, chk, "repl")(apply)
      q.processAllAvailable(); q.stop()
    }
    def assertMirrored(): Unit = {
      val a = VersionedTable.read(spark, src)
      val b = VersionedTable.read(spark, dst)
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
        "target multiset must equal the source head")
    }

    mirrorOnce(); assertMirrored()
    val dstVersions = VersionedTable.versions(spark, dst)

    // restart with nothing new: the target commits NOTHING (follower
    // delivers nothing; even a rogue redelivery would hit the ledger)
    mirrorOnce()
    assert(VersionedTable.versions(spark, dst) === dstVersions,
      "idle restart must not move the target")

    // more source history: a delete and another upsert, then catch up
    VersionedTable.delete(spark, src, col("doc_id") < 3L, "doc_id", 2)
    VersionedTable.merge(spark, src,
      Seq((7L, "w7"), (20L, "w20")).toDF("doc_id", "text"), "doc_id", 2)
    mirrorOnce(); assertMirrored()

    // replaying an already-applied feed against the ledger is a no-op
    val before = VersionedTable.versions(spark, dst)
    apply(VersionedTable.changeFeed(spark, src, 1, 2), 2)
    assert(VersionedTable.versions(spark, dst) === before,
      "replayed feed must hit the txn ledger, not re-apply")
    assertMirrored()
    ()
  }

  test("update-paired feeds maintain a downstream aggregate " +
    "incrementally: fold +post -pre +insert -delete, never rescan") {
    import spark.implicits._
    val dir = tempDir("graft_repl_agg")
    val src = s"$dir/src"; val chk = s"$dir/chk"

    VersionedTable.append(spark, src,
      (0L until 20L).map(i => (i, s"t$i", 100L + i))
        .toDF("doc_id", "text", "n_chars"),
      "doc_id", 2, op = "load")

    // the maintained state: ONE number, updated per feed from the
    // paired change types alone — the construction CDF update pairing
    // exists for (an unpaired delete+insert multiset would need the
    // consumer to re-derive which deletes are update halves)
    var totalChars = 0L
    def foldFeed(feed: org.apache.spark.sql.DataFrame, v: Int): Unit = {
      val delta = feed.agg(sum(
        when(col("_change_type").isin("insert", "update_postimage"),
          col("n_chars"))
          .otherwise(-col("n_chars"))).as("d"))
        .collect().head.getLong(0)
      totalChars += delta
      ()
    }
    def catchUp(): Unit = {
      val q = VersionedSource.followChanges(spark, src, chk, "repl_agg",
        idCol = Some("doc_id"))(foldFeed)
      q.processAllAvailable(); q.stop()
    }
    def exactTotal(): Long =
      VersionedTable.read(spark, src)
        .agg(sum(col("n_chars"))).collect().head.getLong(0)

    catchUp()
    assert(totalChars === exactTotal(), "after initial load")

    // an upsert that UPDATES 5 rows (new n_chars) and INSERTS 5
    VersionedTable.merge(spark, src,
      (15L until 25L).map(i => (i, s"u$i", 1000L + i))
        .toDF("doc_id", "text", "n_chars"),
      "doc_id", 2)
    catchUp()
    assert(totalChars === exactTotal(), "after merge with update pairs")

    // a pure delete
    VersionedTable.delete(spark, src, col("doc_id") < 3L, "doc_id", 2)
    catchUp()
    assert(totalChars === exactTotal(), "after delete")
    ()
  }

  test("merge-on-read deletes replicate transparently: the follower " +
    "sees plain deletes, and a purge commit feeds ZERO rows") {
    import spark.implicits._
    val dir = tempDir("graft_repl_mor")
    val src = s"$dir/src"; val chk = s"$dir/chk"

    VersionedTable.append(spark, src,
      (0L until 30L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    // two DV commits and a purge — the CDC consumer must be unable to
    // tell any of this from copy-on-write deletes
    VersionedTable.deleteMoR(spark, src,
      pmod(col("doc_id"), lit(5)) === 0, "doc_id")
    VersionedTable.deleteMoR(spark, src, col("doc_id") > 27L, "doc_id")
    VersionedTable.purgeDeletes(spark, src, "doc_id", 2)

    val perVersion =
      scala.collection.mutable.Map.empty[Int, (Long, Long)]
    def record(feed: org.apache.spark.sql.DataFrame, v: Int): Unit = {
      val dels = feed.filter(col("_change_type") === "delete").count()
      perVersion(v) = (feed.count(), dels)
      ()
    }
    val q = VersionedSource.followChanges(spark, src, chk, "repl_mor",
      idCol = Some("doc_id"))(record)
    q.processAllAvailable(); q.stop()

    assert(perVersion(2) === ((6L, 6L)),
      "v2: six masked rows feed as six plain deletes")
    assert(perVersion(3) === ((2L, 2L)),
      "v3: the two rows above 27 feed as two plain deletes")
    assert(perVersion(4) === ((0L, 0L)),
      "purge is live-row preserving: its change feed must be EMPTY")
    ()
  }

  test("a replicated BULK-delete commit (1.5e5 keys in one version) " +
    "mirrors through the join-based delete path — the key set never " +
    "materializes on the driver or as an isin literal") {
    import spark.implicits._
    import graft.streaming.Replication
    val dir = tempDir("graft_repl_bulk")
    val src = s"$dir/src"; val dst = s"$dir/dst"; val chk = s"$dir/chk"

    val n = 200000L
    VersionedTable.append(spark, src,
      spark.range(n).select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text")),
      "doc_id", 4, op = "load")
    // the purge commit: 150k keys go in ONE version (a GDPR-sweep
    // shape) — merge-on-read, so the commit is a sidecar + manifest
    VersionedTable.deleteMoR(spark, src,
      pmod(col("doc_id"), lit(4)) =!= 0, "doc_id")

    val q = Replication.replicate(spark, src, dst, chk, "repl_bulk",
      "doc_id", numFiles = 4)
    q.processAllAvailable(); q.stop()

    assert(VersionedTable.read(spark, dst).count() === n / 4)
    assert(VersionedTable.read(spark, dst)
      .filter(pmod(col("doc_id"), lit(4)) =!= 0).count() === 0)
    // the mirror absorbed the purge as ONE merge-on-read commit:
    // zero data files rewritten on the delete version
    val dstVs = VersionedTable.versions(spark, dst)
    val delV = dstVs.find(v =>
      VersionedTable.snapshot(spark, dst, v).op == "delete-mor").get
    val before = VersionedTable.snapshot(spark, dst, delV - 1)
      .files.map(_.path).toSet
    val after = VersionedTable.snapshot(spark, dst, delV)
      .files.map(_.path).toSet
    assert(after === before,
      "bulk MoR delete must carry every data file by reference")
    ()
  }

  test("the SOURCE evolving its schema mid-stream replicates: the " +
    "mirror converges with null backfill, and deletes still apply " +
    "after the evolution") {
    import spark.implicits._
    import graft.streaming.Replication
    val dir = tempDir("graft_repl_evo")
    val src = s"$dir/src"; val dst = s"$dir/dst"; val chk = s"$dir/chk"

    VersionedTable.append(spark, src,
      (0L until 20L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    def mirrorOnce(): Unit = {
      val q = Replication.replicate(spark, src, dst, chk, "repl_evo",
        "doc_id")
      q.processAllAvailable(); q.stop()
    }
    mirrorOnce()
    assert(VersionedTable.read(spark, dst).columns.toSet ===
      Set("doc_id", "text"))

    // the source EVOLVES: an upsert batch carries a new column
    VersionedTable.merge(spark, src,
      (15L until 25L).map(i => (i, s"u$i", 100L + i))
        .toDF("doc_id", "text", "quality"),
      "doc_id", 2)
    mirrorOnce()
    val evolved = VersionedTable.read(spark, dst)
    assert(evolved.columns.toSet === Set("doc_id", "text", "quality"),
      "mirror must pick up the evolved column")
    assert(evolved.filter(col("quality").isNull).count() === 15L,
      "pre-evolution mirror rows read the new column as null")
    def assertMirrored(): Unit = {
      val a = VersionedTable.read(spark, src)
      val b = VersionedTable.read(spark, dst)
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
        "mirror multiset must equal the source head")
    }
    assertMirrored()

    // post-evolution lifecycle keeps replicating: a delete and another
    // evolved upsert
    VersionedTable.delete(spark, src, col("doc_id") < 5L, "doc_id", 2)
    VersionedTable.merge(spark, src,
      Seq((30L, "n30", 999L)).toDF("doc_id", "text", "quality"),
      "doc_id", 1)
    mirrorOnce(); assertMirrored()
    ()
  }

  test("Replication.replicate mirrors a full lifecycle in one call, " +
    "exactly-once across restarts, with MoR deletes on the mirror") {
    import spark.implicits._
    import graft.streaming.Replication
    val dir = tempDir("graft_repl_lib")
    val src = s"$dir/src"; val dst = s"$dir/dst"; val chk = s"$dir/chk"

    VersionedTable.append(spark, src,
      (0L until 20L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    VersionedTable.merge(spark, src,
      (15L until 25L).map(i => (i, s"u$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    VersionedTable.delete(spark, src, col("doc_id") < 3L, "doc_id", 2)
    VersionedTable.deleteMoR(spark, src, col("doc_id") === 20L, "doc_id")

    def mirrorOnce(): Unit = {
      val q = Replication.replicate(spark, src, dst, chk, "repl_lib",
        "doc_id")
      q.processAllAvailable(); q.stop()
    }
    def assertMirrored(): Unit = {
      val a = VersionedTable.read(spark, src)
      val b = VersionedTable.read(spark, dst)
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
        "mirror multiset must equal the source head")
    }

    mirrorOnce(); assertMirrored()
    // the mirror's delete commits are merge-on-read by default
    val dstOps = VersionedTable.versions(spark, dst)
      .map(v => VersionedTable.snapshot(spark, dst, v).op)
    assert(dstOps.contains("delete-mor"))
    // restart with nothing new: exactly-once, the mirror doesn't move
    val before = VersionedTable.versions(spark, dst)
    mirrorOnce()
    assert(VersionedTable.versions(spark, dst) === before)
    // catch up on further source history
    VersionedTable.merge(spark, src,
      Seq((30L, "n30")).toDF("doc_id", "text"), "doc_id", 1)
    mirrorOnce(); assertMirrored()
    ()
  }
}
