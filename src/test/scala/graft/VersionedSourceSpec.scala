package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.streaming.VersionedSource

/** The read-side streaming dual of VersionedSinkSpec: following a
  * versioned table's commit log delivers every version's row-level
  * change feed, in commit order, exactly once across restarts — with
  * catch-up (commits made before the follower started) and live
  * commits behaving identically. */
class VersionedSourceSpec extends SparkSpec with TempDirs {

  test("the follower delivers each commit's change feed in order, " +
    "exactly once across restarts") {
    import spark.implicits._
    val dir = tempDir("graft_vsource")
    val root = s"$dir/table"; val chk = s"$dir/chk"

    // two commits BEFORE the follower exists: catch-up territory
    VersionedTable.append(spark, root,
      (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    VersionedTable.merge(spark, root,
      (5L until 15L).map(i => (i, s"u$i")).toDF("doc_id", "text"),
      "doc_id", 2)

    val delivered =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Map[String, Long])]
    def start() = VersionedSource.followChanges(
      spark, root, chk, "vfollow") { (feed, v) =>
      val counts = feed.groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      delivered.synchronized { delivered += (v -> counts); () }
    }

    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // catch-up delivered v1 then v2, each exactly once, in order
    assert(delivered.map(_._1).toSeq === Seq(1, 2))
    // v1 = pure-insert feed of the initial load
    assert(delivered.head._2 === Map("insert" -> 10L))
    // v2's merge: 10 upsert rows inserted, the 5 overwritten old
    // images deleted (keys 5..9 existed; 10..14 were pure inserts)
    assert(delivered(1)._2 === Map("insert" -> 10L, "delete" -> 5L))

    // restart with no new commits: nothing is re-delivered
    delivered.clear()
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(delivered.isEmpty, "restart must not re-deliver versions")

    // a live commit after restart arrives as its feed
    VersionedTable.delete(spark, root, col("doc_id") < 3L, "doc_id", 2)
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    assert(delivered.map(_._1).toSeq === Seq(3))
    assert(delivered.head._2 === Map("delete" -> 3L))
    ()
  }

  test("a follower started fresh on a VACUUMED table bootstraps from " +
    "the earliest surviving version instead of crashing") {
    import spark.implicits._
    val dir = tempDir("graft_vsource_vac")
    val root = s"$dir/table"; val chk = s"$dir/chk"

    VersionedTable.append(spark, root,
      (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    VersionedTable.merge(spark, root,
      (0L until 5L).map(i => (i, s"u$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    VersionedTable.merge(spark, root,
      (5L until 10L).map(i => (i, s"w$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    // history before the follower ever existed is reclaimed: v1's
    // manifest is gone, so the first event the follower sees (v2) has
    // no parent to diff against
    VersionedTable.vacuum(spark, root, keepFrom = 2, retainMs = 0L)
    assert(VersionedTable.versions(spark, root) === Seq(2, 3))

    val delivered = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Map[String, Long], Boolean)]
    val q = VersionedSource.followChanges(spark, root, chk, "vboot") {
      (feed, v) =>
        val counts = feed.groupBy(col("_change_type")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val boot = feed.select(col("_bootstrap")).distinct().collect()
          .map(_.getBoolean(0)).toSeq
        delivered.synchronized {
          delivered += ((v, counts, boot == Seq(true))); ()
        }
    }
    q.processAllAvailable(); q.stop()
    // v2 bootstraps as a full-snapshot insert feed (its parent
    // manifest was vacuumed) — TAGGED as such; v3 diffs normally
    assert(delivered.map(_._1).toSeq === Seq(2, 3))
    assert(delivered.head._2 === Map("insert" -> 10L),
      "earliest survivor must deliver the full snapshot as inserts")
    assert(delivered.head._3, "fresh-start bootstrap must carry " +
      "_bootstrap = true so consumers can tell it from a true diff")
    assert(delivered(1)._2 === Map("insert" -> 5L, "delete" -> 5L))
    assert(!delivered(1)._3, "a true diff must not be tagged bootstrap")
    ()
  }

  /** Build v1 load + v2/v3 merges, follow through v2... only, then
    * commit v3's successor context: the shared fixture for the two
    * mid-stream data-loss tests below. Returns (root, chk). */
  private def midStreamLossFixture(tag: String): (String, String) = {
    import spark.implicits._
    val dir = tempDir(s"graft_vsource_$tag")
    val root = s"$dir/table"; val chk = s"$dir/chk"
    VersionedTable.append(spark, root,
      (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    VersionedTable.merge(spark, root,
      (0L until 5L).map(i => (i, s"u$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    // the follower delivers v1 and v2, then goes away (lagging)
    val q = VersionedSource.followChanges(spark, root, chk,
      s"vloss_$tag")((_, _) => ())
    q.processAllAvailable(); q.stop()
    // while it lags: two more commits, then vacuum reclaims v1 and v2's
    // manifests — v3's PARENT diff base is now gone mid-stream
    VersionedTable.merge(spark, root,
      (5L until 10L).map(i => (i, s"w$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    VersionedTable.delete(spark, root, col("doc_id") === 0L, "doc_id", 2)
    VersionedTable.vacuum(spark, root, keepFrom = 3, retainMs = 0L)
    assert(VersionedTable.versions(spark, root) === Seq(3, 4))
    (root, chk)
  }

  test("a parent manifest vacuumed away MID-stream fails loudly by " +
    "default instead of silently dropping that feed's deletes") {
    val (root, chk) = midStreamLossFixture("failloud")
    val q = VersionedSource.followChanges(spark, root, chk,
      "vloss_failloud2")((feed, _) => { feed.count(); () })
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage)
        .exists(_.contains("change-feed data loss"))),
      s"expected the loud data-loss error, got: ${ex.getMessage}")
  }

  test("a PRE-UPGRADE checkpoint (progress sidecar missing) whose " +
    "parent was vacuumed reads as mid-stream, not a fresh bootstrap: " +
    "the commits dir witnesses prior delivery, so failOnDataLoss " +
    "still throws") {
    val (root, chk) = midStreamLossFixture("preupgrade")
    // simulate a checkpoint created before the sidecar existed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(chk).toUri,
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(chk, "_graft_max_delivered"), false),
      "fixture must have written the sidecar before we remove it")
    val q = VersionedSource.followChanges(spark, root, chk,
      "vloss_preupgrade2")((feed, _) => { feed.count(); () })
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage)
        .exists(_.contains("change-feed data loss"))),
      "a sidecar-less checkpoint with completed batches must NOT " +
        s"silently bootstrap; got: ${ex.getMessage}")
  }

  test("a TORN progress sidecar parses as unknown and falls back to " +
    "the commits witness (mid-stream, loud) — never a " +
    "NumberFormatException crash-loop") {
    val (root, chk) = midStreamLossFixture("tornprog")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(chk).toUri,
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(chk, "_graft_max_delivered"), true)
    out.write(Array[Byte]()) // torn write: empty file
    out.close()
    val q = VersionedSource.followChanges(spark, root, chk,
      "vloss_tornprog2")((feed, _) => { feed.count(); () })
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage)
        .exists(_.contains("change-feed data loss"))),
      s"expected the loud data-loss path, got: ${ex.getMessage}")
    assert(!chain(ex).exists(_.isInstanceOf[NumberFormatException]),
      "a torn sidecar must never surface as NumberFormatException")
  }

  test("failOnDataLoss=false degrades the lost-parent feed to a " +
    "full-snapshot insert feed tagged _bootstrap=true, then resumes " +
    "true diffs") {
    val (root, chk) = midStreamLossFixture("optout")
    val delivered = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Map[String, Long], Boolean)]
    val q = VersionedSource.followChanges(spark, root, chk,
      "vloss_optout2", failOnDataLoss = false) { (feed, v) =>
      val counts = feed.groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val boot = feed.select(col("_bootstrap")).distinct().collect()
        .map(_.getBoolean(0)).toSeq
      delivered.synchronized {
        delivered += ((v, counts, boot == Seq(true))); ()
      }
    }
    q.processAllAvailable(); q.stop()
    assert(delivered.map(_._1).toSeq === Seq(3, 4))
    // v3: unrecoverable diff -> the v3 SNAPSHOT as inserts, tagged
    assert(delivered.head._2 === Map("insert" -> 10L))
    assert(delivered.head._3,
      "degraded feed must be tagged _bootstrap = true")
    // v4 (parent v3 live): a true diff again, untagged
    assert(delivered(1)._2 === Map("delete" -> 1L))
    assert(!delivered(1)._3)
    ()
  }

  test("maxVersionsPerTrigger bounds catch-up batches: a 5-commit " +
    "backlog arrives over ceil(5/2) rate-limited micro-batches, in " +
    "order, nothing lost or duplicated") {
    import spark.implicits._
    val dir = tempDir("graft_vsource_rate")
    val root = s"$dir/table"; val chk = s"$dir/chk"
    VersionedTable.append(spark, root,
      (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 2, op = "load")
    (1 to 4).foreach { k =>
      VersionedTable.merge(spark, root,
        Seq((k.toLong, s"u$k")).toDF("doc_id", "text"), "doc_id", 2)
    }
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = VersionedSource.followChanges(spark, root, chk, "vrate",
      maxVersionsPerTrigger = Some(2)) { (feed, v) =>
      feed.queryExecution.toRdd.count() // materialize the feed
      delivered.synchronized { delivered += v; () }
    }
    q.processAllAvailable()
    // the limit is enforced by the file source's own offset tracking:
    // every micro-batch consumed at most 2 manifests
    val perBatch = q.recentProgress.toSeq.map(_.numInputRows)
      .filter(_ > 0)
    q.stop()
    assert(delivered.toSeq === Seq(1, 2, 3, 4, 5))
    assert(perBatch.forall(_ <= 2L),
      s"a batch exceeded the version rate limit: $perBatch")
    assert(perBatch.size >= 3, // ceil(5/2): catch-up was incremental
      s"backlog must span multiple rate-limited batches: $perBatch")
    ()
  }
}
