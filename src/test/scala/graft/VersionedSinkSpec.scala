package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.streaming.VersionedSink

/** Exactly-once streaming upsert into the versioned table: batches
  * become versions, redelivered batches are no-ops via the txn ledger,
  * and a checkpoint restart continues the version chain without
  * double-applying.  Driven through a replayable file source
  * (MemoryStream cannot recover across restarts by design). */
class VersionedSinkSpec extends SparkSpec with TempDirs {

  test("micro-batches commit as versions; replays and restarts apply once") {
    import spark.implicits._
    val dir = tempDir("graft_vsink")
    val src = s"$dir/src"; val chk = s"$dir/chk"; val root = s"$dir/table"
    new java.io.File(src).mkdirs()

    def start() = VersionedSink.upsertStream(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
      root, "doc_id", 2, chk, "vsink")

    // epoch 1: initial load
    (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(VersionedTable.read(spark, root).count() === 10)
    val vAfter1 = VersionedTable.latestVersion(spark, root).get

    // epoch 2 (after restart): overlapping keys upsert, new keys insert
    (5L until 15L).map(i => (i, s"u$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val head = VersionedTable.read(spark, root)
    assert(head.count() === 15)
    assert(head.filter(col("text").startsWith("u")).count() === 10)
    assert(head.filter(col("doc_id") === 7L).select(col("text"))
      .head.getString(0) === "u7")
    val vAfter2 = VersionedTable.latestVersion(spark, root).get
    assert(vAfter2 > vAfter1)

    // a redelivered batch (same txn id) must return the committed
    // version, not apply again
    val headTxn = VersionedTable.snapshot(spark, root, vAfter2).txnId.get
    val replayed = VersionedTable.merge(spark, root,
      (5L until 15L).map(i => (i, s"REPLAY$i")).toDF("doc_id", "text"),
      "doc_id", 2, txnId = Some(headTxn))
    // version chain unchanged and the replay's payload NOT applied
    assert(replayed === vAfter2)
    assert(VersionedTable.latestVersion(spark, root).get === vAfter2)
    assert(VersionedTable.read(spark, root)
      .filter(col("text").startsWith("REPLAY")).count() === 0)
    assert(VersionedTable.read(spark, root).count() === 15)

    // every committed version carries its txn id in the ledger
    val txns = VersionedTable.versions(spark, root)
      .flatMap(v => VersionedTable.snapshot(spark, root, v).txnId)
    assert(txns.distinct.size === txns.size)
    assert(txns.forall(_.startsWith("vsink#")))
  }

  test("a two-events-per-key CDC batch upserts exactly one row per key " +
    "(keep-last by orderCol)") {
    import spark.implicits._
    val dir = tempDir("graft_vsink_dup")
    val src = s"$dir/src"; val chk = s"$dir/chk"; val root = s"$dir/table"
    new java.io.File(src).mkdirs()

    def start() = VersionedSink.upsertStream(
      spark.readStream.schema("doc_id LONG, seq LONG, text STRING")
        .parquet(src),
      root, "doc_id", 2, chk, "vsink_dup", orderCol = Some("seq"))

    // first batch already carries TWO events for keys 0..4: the load
    // path must keep only the later (higher-seq) event per key
    ((0L until 10L).map(i => (i, 1L, s"a$i")) ++
      (0L until 5L).map(i => (i, 2L, s"b$i")))
      .toDF("doc_id", "seq", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val loaded = VersionedTable.read(spark, root)
    assert(loaded.count() === 10, "one row per key after a dup-key load")
    assert(loaded.filter(col("doc_id") < 5 && !col("text").startsWith("b"))
      .count() === 0, "the higher-seq event won the load")

    // a later micro-batch with three events for one key: highest seq
    // wins the MERGE, and no key ever holds two rows
    Seq((3L, 10L, "mid"), (3L, 30L, "last"), (3L, 20L, "late"))
      .toDF("doc_id", "seq", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val head = VersionedTable.read(spark, root)
    assert(head.count() === 10)
    assert(head.groupBy(col("doc_id")).count()
      .filter(col("count") > 1).count() === 0,
      "no key holds two rows after a multi-event batch")
    assert(head.filter(col("doc_id") === 3L).select(col("text"))
      .head.getString(0) === "last", "keep-last resolution by seq")
  }

  test("a batch replayed after vacuum reclaimed its manifest is still " +
    "not re-applied (txn ledger survives manifest retention)") {
    import spark.implicits._
    val dir = tempDir("graft_vsink_vac")
    val root = s"$dir/table"

    // batch 0 loads, batches 1..3 merge, each with a sink-style txn id
    VersionedTable.append(spark, root,
      (0L until 8L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      "doc_id", 1, op = "load", txnId = Some("vac#0"))
    (1 to 3).foreach { b =>
      VersionedTable.merge(spark, root,
        (0L until 8L).map(i => (i, s"b$b-$i")).toDF("doc_id", "text"),
        "doc_id", 1, txnId = Some(s"vac#$b"))
    }
    val head = VersionedTable.latestVersion(spark, root).get
    assert(VersionedTable.txnCommitted(spark, root, "vac#1"))

    // vacuum away every manifest but the head — time travel to the
    // batch-1 version is gone, but its txn id must remain committed
    VersionedTable.vacuum(spark, root, keepFrom = head, retainMs = 0L)
    assert(VersionedTable.versions(spark, root) === Seq(head))
    assert(VersionedTable.txnCommitted(spark, root, "vac#1"),
      "txn ledger must survive manifest reclamation")

    // the stream restarts from an older checkpoint and redelivers
    // batch 1: the merge must return without applying
    val v = VersionedTable.merge(spark, root,
      (0L until 8L).map(i => (i, s"REPLAY$i")).toDF("doc_id", "text"),
      "doc_id", 1, txnId = Some("vac#1"))
    assert(VersionedTable.latestVersion(spark, root).get === head,
      "replayed batch must not commit a new version")
    assert(VersionedTable.read(spark, root)
      .filter(col("text").startsWith("REPLAY")).count() === 0,
      "replayed payload must not reach the table")
    // the returned version points at the ledger entry, not the head
    assert(v < head)

    // a genuinely NEW batch still commits normally after the vacuum
    VersionedTable.merge(spark, root,
      Seq((0L, "new0")).toDF("doc_id", "text"),
      "doc_id", 1, txnId = Some("vac#4"))
    assert(VersionedTable.latestVersion(spark, root).get === head + 1)
    assert(VersionedTable.read(spark, root)
      .filter(col("text") === "new0").count() === 1)
  }

  test("applyCdcStream: a delete-carrying event stream lands on the " +
    "right end state per key, keep-last across change types, " +
    "exactly-once across restarts") {
    import spark.implicits._
    val dir = tempDir("graft_cdcsink")
    val src = s"$dir/src"; val chk = s"$dir/chk"; val root = s"$dir/table"
    new java.io.File(src).mkdirs()

    def start() = VersionedSink.applyCdcStream(
      spark.readStream
        .schema("doc_id LONG, text STRING, seq LONG, _change_type STRING")
        .parquet(src),
      root, "doc_id", 2, chk, "cdcsink", orderCol = Some("seq"))

    def push(rows: Seq[(Long, String, Long, String)]): Unit = {
      rows.toDF("doc_id", "text", "seq", "_change_type")
        .coalesce(1).write.mode("append").parquet(src)
      val q = start(); q.processAllAvailable(); q.stop()
    }

    // epoch 1: inserts only
    push((0L until 10L).map(i => (i, s"t$i", 1L, "insert")))
    assert(VersionedTable.read(spark, root).count() === 10)

    // epoch 2: one batch carrying a key's whole life (insert 20 ->
    // update 20 -> delete 20), an update pair for 3 (preimage must
    // never win), a plain delete of 7, and a fresh insert 11
    push(Seq(
      (20L, "born", 10L, "insert"),
      (20L, "grew", 11L, "update_postimage"),
      (20L, "grew-not", 11L, "update_preimage"),
      (20L, "gone", 12L, "delete"),
      (3L, "old3", 20L, "update_preimage"),
      (3L, "new3", 20L, "update_postimage"),
      (7L, "x", 21L, "delete"),
      (11L, "t11", 22L, "insert")))
    val head = VersionedTable.read(spark, root)
    assert(head.count() === 10, "10 - del7 + ins11 = 10; key 20 never lands")
    assert(head.filter(col("doc_id") === 20L).count() === 0)
    assert(head.filter(col("doc_id") === 7L).count() === 0)
    assert(head.filter(col("doc_id") === 3L).select(col("text"))
      .head.getString(0) === "new3")
    assert(head.filter(col("doc_id") === 11L).count() === 1)
    // the delete half applied merge-on-read (no file rewrite per batch)
    val ops = VersionedTable.versions(spark, root)
      .map(v => VersionedTable.snapshot(spark, root, v).op)
    assert(ops.contains("delete-mor"))

    // restart with nothing new: no redelivery, the table doesn't move
    val versionsBefore = VersionedTable.versions(spark, root)
    val q = start(); q.processAllAvailable(); q.stop()
    assert(VersionedTable.versions(spark, root) === versionsBefore)

    // forced redelivery of either HALF of a batch (crash between the
    // merge and the delete): each half's distinct txn id hits the
    // ledger independently and returns without applying
    val mergeHalf = VersionedTable.merge(spark, root,
      Seq((3L, "REPLAY", 99L)).toDF("doc_id", "text", "seq"),
      "doc_id", 1, txnId = Some("cdcsink#1#m"))
    val deleteHalf = VersionedTable.deleteMoR(spark, root,
      col("doc_id") === 11L, "doc_id", txnId = Some("cdcsink#1#d"))
    assert(VersionedTable.versions(spark, root) === versionsBefore,
      "replayed halves must not commit")
    // each half returns the version IT originally committed (the
    // delete half was the head commit of its batch)
    assert(mergeHalf <= versionsBefore.max &&
      deleteHalf <= versionsBefore.max)
    assert(VersionedTable.read(spark, root)
      .filter(col("text") === "REPLAY").count() === 0)
    assert(VersionedTable.read(spark, root)
      .filter(col("doc_id") === 11L).count() === 1)
    ()
  }
}
