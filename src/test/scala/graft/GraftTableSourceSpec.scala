package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Laws of the `graft-table` Spark relation: same rows as the library
  * read path (on Spark's own vectorized parquet scan), time travel via
  * reader options, and MANIFEST-DRIVEN file skipping from Catalyst
  * data filters — zone maps, column stats, string stats and blooms all
  * reachable from a plain `.filter(...)`, conservatively (answers
  * never change, only the planned file count). */
class GraftTableSourceSpec extends SparkSpec with TempDirs {

  private def freshRoot(kind: String): String =
    Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_gts_${kind}_" +
        s"${spark.sparkContext.applicationId}")

  private def docs(n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toLong, s"unique text $i", ((i * 37) % n).toLong))
      .toDF("doc_id", "text", "score")
  }

  /** numFiles of the (single) parquet scan feeding `df`. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case other => other.children.flatMap(flatten)
      })
    flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec =>
        f.metrics("numFiles").value }
      .getOrElse(fail("no FileSourceScanExec in the plan"))
  }

  test("format(graft-table) serves the snapshot exactly (same rows " +
    "and schema as the library read), on the stock parquet scan") {
    val root = freshRoot("parity")
    VersionedTable.append(spark, root, docs(100), "doc_id", 4)
    val viaFmt = spark.read.format("graft-table").load(root)
    val viaLib = VersionedTable.read(spark, root)
    assert(viaFmt.schema === viaLib.schema)
    assert(viaFmt.count() === 100)
    assert(viaFmt.exceptAll(viaLib).count() === 0 &&
      viaLib.exceptAll(viaFmt).count() === 0)
    // manifest-recorded file sizes match the filesystem, so split
    // planning needs zero per-file status RPCs
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    VersionedTable.snapshot(spark, root, 1).files.foreach { f =>
      assert(f.bytes === fs.getFileStatus(
        new org.apache.hadoop.fs.Path(f.path)).getLen)
    }
  }

  test("versionAsOf / timestampAsOf reader options time-travel") {
    import spark.implicits._
    val root = freshRoot("tt")
    VersionedTable.append(spark, root, docs(10), "doc_id", 2)
    Thread.sleep(5)
    VersionedTable.merge(spark, root,
      (10L until 15L).map(i => (i, s"u$i", 0L))
        .toDF("doc_id", "text", "score"), "doc_id", 2)
    assert(spark.read.format("graft-table")
      .option("versionAsOf", "1").load(root).count() === 10)
    assert(spark.read.format("graft-table").load(root).count() === 15)
    val t1 = VersionedTable.snapshot(spark, root, 1).tsMillis
    assert(spark.read.format("graft-table")
      .option("timestampAsOf", t1.toString).load(root).count() === 10)
  }

  test("a plain .filter on the KEY prunes files through the zone map " +
    "(table.key rides the manifest); answers unchanged") {
    val root = freshRoot("keyprune")
    VersionedTable.append(spark, root, docs(400), "doc_id", 8)
    val df = spark.read.format("graft-table").load(root)
    assert(scannedFiles(df) === 8)
    val narrow = df.filter(col("doc_id") < 50L)
    assert(narrow.count() === 50)
    assert(scannedFiles(narrow) === 1,
      "a 1/8th key slice must plan exactly one file")
  }

  test("column-stats and string-stats pruning reach a plain .filter " +
    "after clustering; unsupported filter shapes stay safe") {
    import spark.implicits._
    val root = freshRoot("statprune")
    val langs = IndexedSeq("ar", "de", "en", "fr", "zh")
    val df0 = (0 until 400).map(i =>
      (i.toLong, langs(i % 5), ((i * 37) % 400).toLong))
      .toDF("doc_id", "lang", "score")
    VersionedTable.append(spark, root, df0, "doc_id", 8)
    VersionedTable.optimizeClusterBy(spark, root, "score", "doc_id", 8)
    val df = spark.read.format("graft-table").load(root)
    val byScore = df.filter(col("score") <= 49L)
    assert(byScore.count() === 50)
    assert(scannedFiles(byScore) < 8, "score slice must skip files")
    // string clustering: lang predicate prunes through sstats
    VersionedTable.optimizeClusterBy(spark, root, "lang", "doc_id", 5)
    val df2 = spark.read.format("graft-table").load(root)
    val byLang = df2.filter(col("lang") === "fr")
    assert(byLang.count() === 80)
    assert(scannedFiles(byLang) < 5, "lang slice must skip files")
    // a shape the manifest cannot act on (contains) keeps everything
    // and stays correct
    val weird = df2.filter(col("lang").contains("f"))
    assert(weird.count() === 80)
    assert(scannedFiles(weird) === 5)
  }

  test("equality on a bloom-enrolled column prunes on an UNCLUSTERED " +
    "layout through a plain .filter") {
    val root = freshRoot("bloomprune")
    VersionedTable.setProperty(spark, root,
      VersionedTable.BloomColsProp, "text")
    VersionedTable.append(spark, root, docs(800), "doc_id", 8)
    val df = spark.read.format("graft-table").load(root)
    val hit = df.filter(col("text") === "unique text 7")
    assert(hit.count() === 1)
    assert(scannedFiles(hit) < 8, "bloom equality must skip files")
  }

  test("the manifest carries the logical schema: O(1) for the " +
    "connector, widened by an evolved merge, old rows null-backfilled") {
    import spark.implicits._
    val root = freshRoot("schema")
    VersionedTable.append(spark, root, docs(20), "doc_id", 2)
    val recorded = VersionedTable.snapshot(spark, root, 1)
      .props(VersionedTable.TableSchemaProp)
    assert(org.apache.spark.sql.types.DataType.fromJson(recorded)
      === VersionedTable.read(spark, root).schema)
    // evolved merge adds a column -> recorded schema widens
    VersionedTable.merge(spark, root,
      Seq((0L, "e0", 1L, 9L)).toDF("doc_id", "text", "score", "quality"),
      "doc_id", 1)
    val df = spark.read.format("graft-table").load(root)
    assert(df.schema.fieldNames.contains("quality"))
    assert(df.count() === 20)
    assert(df.filter(col("quality").isNull).count() === 19,
      "pre-evolution rows must read the new column as null")
    assert(df.filter(col("quality") === 9L).count() === 1)
  }

  test("df.write.format(graft-table): Append versions, Overwrite " +
    "replaces content but keeps history and policy, ErrorIfExists " +
    "and the recorded keyCol behave") {
    val root = freshRoot("write")
    // first write needs keyCol; it is then recorded and inherited
    docs(40).write.format("graft-table").option("keyCol", "doc_id")
      .option("numFiles", "2").mode("append").save(root)
    assert(VersionedTable.read(spark, root).count() === 40)
    docs(10).select(col("doc_id") + 1000L as "doc_id", col("text"),
      col("score")).write.format("graft-table").mode("append").save(root)
    assert(VersionedTable.read(spark, root).count() === 50)
    // constraints gate the connector write path too
    VersionedTable.addConstraint(spark, root, "nonneg", "score >= 0")
    intercept[IllegalStateException] {
      docs(5).select(col("doc_id") + 2000L as "doc_id", col("text"),
        negate(col("score") + 1L) as "score")
        .write.format("graft-table").mode("append").save(root)
    }
    assert(VersionedTable.read(spark, root).count() === 50)
    // overwrite: new content, history + key + constraints survive
    docs(7).write.format("graft-table").mode("overwrite").save(root)
    assert(VersionedTable.read(spark, root).count() === 7)
    val head = VersionedTable.latestVersion(spark, root).get
    assert(VersionedTable.snapshot(spark, root, head).op === "overwrite")
    assert(VersionedTable.read(spark, root, Some(head - 1))
      .count() === 50, "overwrite must keep history time-travelable")
    assert(VersionedTable.constraints(spark, root).nonEmpty)
    intercept[IllegalStateException] {
      docs(40).write.format("graft-table").mode("errorifexists").save(root)
    }
    // and the round trip reads back through the same format
    assert(spark.read.format("graft-table").load(root).count() === 7)
  }

  test("df.writeStream.format(graft-table): micro-batches become " +
    "versions exactly-once across restarts, through the standard " +
    "writeStream surface") {
    import spark.implicits._
    val dir = tempDir("graft_gts_stream")
    val src = s"$dir/src"; val chk = s"$dir/chk"; val root = s"$dir/table"
    new java.io.File(src).mkdirs()
    def start() = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(src)
      .writeStream.format("graft-table")
      .option("path", root).option("keyCol", "doc_id")
      .option("numFiles", "2")
      .option("checkpointLocation", chk)
      .outputMode("append")
      .start()
    (0L until 10L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(VersionedTable.read(spark, root).count() === 10)
    // restart + overlapping keys: upsert, no double-apply
    (5L until 15L).map(i => (i, s"u$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val head = VersionedTable.read(spark, root)
    assert(head.count() === 15)
    assert(head.filter(col("text").startsWith("u")).count() === 10)
    // the committed batch carries a checkpoint-derived txn id, so a
    // replay of the same txn is a no-op
    val v = VersionedTable.latestVersion(spark, root).get
    val txn = VersionedTable.snapshot(spark, root, v).txnId.get
    assert(txn.startsWith("graft-table#"))
    assert(VersionedTable.merge(spark, root,
      Seq((5L, "REPLAY")).toDF("doc_id", "text"), "doc_id", 2,
      txnId = Some(txn)) === v)
    assert(VersionedTable.read(spark, root)
      .filter(col("text") === "REPLAY").count() === 0)
    ()
  }

  test("streaming autoCompact bounds the small-file count: a trickle " +
    "of tiny batches stays at the target file count, rows exact") {
    import spark.implicits._
    val dir = tempDir("graft_gts_compact")
    val src = s"$dir/src"; val chk = s"$dir/chk"; val root = s"$dir/table"
    new java.io.File(src).mkdirs()
    def start() = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(src)
      .writeStream.format("graft-table")
      .option("path", root).option("keyCol", "doc_id")
      .option("numFiles", "2")
      .option("autoCompactEvery", "3")
      .option("checkpointLocation", chk)
      .outputMode("append")
      .start()
    val q = start()
    // 6 tiny single-file batches: without compaction the table would
    // accrete ~12 small files; every 3rd batch bin-packs to 2
    (0 until 6).foreach { k =>
      (k * 10 until (k + 1) * 10).map(i => (i.toLong, s"t$i"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    }
    q.stop()
    assert(VersionedTable.read(spark, root).count() === 60)
    val head = VersionedTable.latestVersion(spark, root).get
    val files = VersionedTable.snapshot(spark, root, head).files
    assert(files.size <= 4,
      s"autoCompact must bound the file count, got ${files.size}")
    // compaction commits appear in the history as 'optimize'
    assert(VersionedTable.history(spark, root)
      .filter(col("op") === "optimize").count() >= 1)
    ()
  }

  test("deletion-vector snapshots serve through the masked relation: " +
    "rows identical to the library read, filters and projections " +
    "still correct; purging returns to the vectorized fast path") {
    val root = freshRoot("dv")
    VersionedTable.append(spark, root, docs(40), "doc_id", 2)
    VersionedTable.deleteMoR(spark, root, col("doc_id") < 4, "doc_id")
    val viaConnector = spark.read.format("graft-table").load(root)
    assert(viaConnector.count() === 36)
    assert(viaConnector.filter(col("doc_id") < 10).count() === 6)
    assert(viaConnector.select("text").distinct().count() ===
      VersionedTable.read(spark, root).select("text").distinct().count())
    assert(viaConnector.orderBy("doc_id").collect() ===
      VersionedTable.read(spark, root).orderBy("doc_id").collect())
    // masked path in use (no FileSourceScanExec leaf)
    assert(viaConnector.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .isEmpty)
    // DV-free snapshots keep the vectorized relation
    VersionedTable.purgeDeletes(spark, root, "doc_id", 2)
    val purged = spark.read.format("graft-table").load(root)
    assert(purged.count() === 36)
    assert(purged.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .isDefined)
  }

  test("null-count stats prune IS NULL / IS NOT NULL file-level: an " +
    "all-null file drops from NOT NULL scans, a no-null file from " +
    "NULL scans; answers unchanged; pre-feature entries stay safe") {
    import spark.implicits._
    val root = freshRoot("nullstats")
    val withVal = (0 until 30).map(i =>
      (i.toLong, s"t$i", Some(i.toLong * 2)))
      .toDF("doc_id", "text", "opt")
    val allNull = (100 until 120).map(i =>
      (i.toLong, s"t$i", Option.empty[Long]))
      .toDF("doc_id", "text", "opt")
    VersionedTable.append(spark, root, withVal, "doc_id", 2)
    VersionedTable.append(spark, root, allNull, "doc_id", 1)
    def scanFiles(df: DataFrame): Long = {
      df.collect() // materialize so the metric is final
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.get
    }
    val notNull = spark.read.format("graft-table").load(root)
      .filter(col("opt").isNotNull)
    assert(notNull.count() === 30)
    assert(scanFiles(notNull) === 2) // the all-null file skipped
    val isNull = spark.read.format("graft-table").load(root)
      .filter(col("opt").isNull)
    assert(isNull.count() === 20)
    assert(scanFiles(isNull) === 1) // both no-null files skipped
    // a comparison filter implies IsNotNull: the all-null file skips
    // even though it has no opt min/max stats at all
    val cmp = spark.read.format("graft-table").load(root)
      .filter(col("opt") >= 0L)
    assert(cmp.count() === 30)
    assert(scanFiles(cmp) === 2)
  }

  test("idempotent batch writes: the same (txnAppId, txnVersion) pair " +
    "commits at most once across retries; half-set options throw") {
    val root = freshRoot("txnwrite")
    def write(n: Int): Unit =
      docs(40).write.format("graft-table").mode("append")
        .option("keyCol", "doc_id")
        .option("txnAppId", "loader").option("txnVersion", n.toString)
        .save(root)
    write(1); write(1) // retry of the same logical write: a no-op
    assert(VersionedTable.latestVersion(spark, root) === Some(1))
    assert(spark.read.format("graft-table").load(root).count() === 40)
    write(2) // the next logical write commits normally
    assert(VersionedTable.latestVersion(spark, root) === Some(2))
    assert(spark.read.format("graft-table").load(root).count() === 80)
    intercept[IllegalArgumentException] {
      docs(1).write.format("graft-table").mode("append")
        .option("keyCol", "doc_id").option("txnAppId", "loader")
        .save(root)
    }
  }

  test("readChangeFeed through the connector equals the library CDF " +
    "and rejects conflicting/snapshot-only options") {
    val root = freshRoot("cdf")
    VersionedTable.append(spark, root, docs(30), "doc_id", 2)
    VersionedTable.delete(spark, root, col("doc_id") < 3, "doc_id", 2)
    VersionedTable.update(spark, root, col("doc_id") === 10,
      Map("text" -> lit("changed")), "doc_id", 2)
    val viaConnector = spark.read.format("graft-table")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "3")
      .option("idCol", "doc_id")
      .load(root)
      .orderBy("_commit_version", "_change_type", "doc_id").collect()
    val viaLibrary = VersionedTable.readOptions(spark, root, Map(
        "readChangeFeed" -> "true", "startingVersion" -> "2",
        "endingVersion" -> "3", "idCol" -> "doc_id"))
      .orderBy("_commit_version", "_change_type", "doc_id").collect()
    assert(viaConnector === viaLibrary)
    // the update commit pairs; the delete commit is plain deletes
    val types = viaConnector.map(r =>
      (r.getAs[Int]("_commit_version"),
        r.getAs[String]("_change_type"))).toSeq
    assert(types.count(_ == ((2, "delete"))) === 3)
    assert(types.count(_ == ((3, "update_preimage"))) === 1)
    assert(types.count(_ == ((3, "update_postimage"))) === 1)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-table")
        .option("readChangeFeed", "true").option("versionAsOf", "2")
        .load(root)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-table")
        .option("readChangeFeed", "true").load(root) // no startingVersion
    }
  }
}
