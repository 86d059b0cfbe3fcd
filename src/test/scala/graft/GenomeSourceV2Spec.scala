package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The DataSource V2 genome connector: row parity with the built-in JSON
  * reader, column pruning reaching the reader, filter pushdown visible
  * in the physical plan, and per-file partition planning. */
class GenomeSourceV2Spec extends SparkSpec with TempDirs {

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath

  private def v2(path: String) =
    spark.read.format("graft.sources.v2.GenomeSource").load(path)

  test("row parity with the built-in JSON reader on the shared schema") {
    val ours = v2(res("genome-records.jsonl"))
    val ref = spark.read
      .schema("genome_id STRING, genome_name STRING, pathway STRING, " +
        "gene_count LONG")
      .json(res("genome-records.jsonl"))
      .filter(col("genome_id").isNotNull)
    val mine = ours.filter(col("genome_id").isNotNull)
    assert(mine.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(mine).count() === 0)
    assert(mine.count() === 4)
  }

  test("filter pushdown: comparison filters reach the scan and are correct") {
    val df = v2(res("genome-records.jsonl"))
      .filter(col("gene_count") > 42 && col("genome_id").isNotNull)
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head
    val desc = scan.scan.description()
    assert(desc.contains("GreaterThan(gene_count,42)"), desc)
    assert(desc.contains("IsNotNull"), desc)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("gene_count") > 42))
    // parity against the unpushed evaluation
    val ref = v2(res("genome-records.jsonl")).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(3) && r.getLong(3) > 42)
    assert(rows.length === ref.length)
  }

  test("zone-map sidecar skips whole shards the predicate cannot " +
    "touch; results are unchanged") {
    import spark.implicits._
    val dir = tempDir("graft_zm")
    // three shards with disjoint gene_count ranges
    def shard(name: String, lo: Long): Unit = {
      val body = (lo until lo + 10).map(v =>
        s"""{"genome_id":"g$v","genome_name":"n$v","pathway":"p",""" +
          s""""gene_count":$v}""").mkString("\n")
      Files.write(Paths.get(dir, name), body.getBytes("UTF-8"))
    }
    shard("a.jsonl", 0L); shard("b.jsonl", 100L); shard("c.jsonl", 200L)
    val q = () => v2(dir).filter(col("gene_count") >= 200)

    // without the sidecar: every shard is planned
    assert(q().rdd.getNumPartitions === 3)
    val before = q().select(col("genome_id")).as[String].collect().sorted

    // with the sidecar: only the one shard whose range can match
    graft.sources.v2.GenomeZoneMap.write(spark, dir)
    assert(q().rdd.getNumPartitions === 1)
    val after = q().select(col("genome_id")).as[String].collect().sorted
    assert(after === before)
    assert(after.length === 10)

    // an unfiltered read still plans (and returns) everything — the
    // sidecar itself is never listed as data
    assert(v2(dir).rdd.getNumPartitions === 3)
    assert(v2(dir).count() === 30)

    // equality probes prune to the single covering shard
    val eq = v2(dir).filter(col("gene_count") === 105L)
    assert(eq.rdd.getNumPartitions === 1)
    assert(eq.count() === 1)
  }

  test("a stale zone-map entry never skips: a shard rewritten after the " +
    "sidecar was built is planned unconditionally") {
    import spark.implicits._
    val dir = tempDir("graft_zm_stale")
    def shard(name: String, lo: Long, n: Int = 10): Unit = {
      val body = (lo until lo + n).map(v =>
        s"""{"genome_id":"g$v","genome_name":"n$v","pathway":"p",""" +
          s""""gene_count":$v}""").mkString("\n")
      Files.write(Paths.get(dir, name), body.getBytes("UTF-8"))
    }
    shard("a.jsonl", 0L); shard("b.jsonl", 100L)
    graft.sources.v2.GenomeZoneMap.write(spark, dir)
    val q = () => v2(dir).filter(col("gene_count") >= 200)
    // sidecar current: both shards' ranges fail the predicate -> 0 files
    assert(q().rdd.getNumPartitions === 0)
    // REWRITE shard a with rows that DO match; the sidecar still claims
    // [0, 9].  Trusting it would silently drop all matching rows — the
    // (len, mtime) fingerprint must detect the mismatch and plan the
    // file, leaving the row-level filter to produce the exact answer.
    shard("a.jsonl", 200L, n = 25) // different length => stale for sure
    val got = q().select(col("gene_count")).as[Long].collect().sorted
    assert(got === (200L until 225L).toArray, "stale sidecar dropped rows")
    // shard b's entry is still current and still skips
    assert(q().rdd.getNumPartitions === 1)
    // rebuilding the sidecar restores skipping with the new range
    graft.sources.v2.GenomeZoneMap.write(spark, dir)
    assert(v2(dir).filter(col("gene_count") >= 300).rdd
      .getNumPartitions === 0)
    assert(q().rdd.getNumPartitions === 1)
    assert(q().count() === 25)
  }

  test("column pruning reaches the reader (scan output is the projection)") {
    val df = v2(res("genome-records.jsonl")).select(col("genome_id"))
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head
    assert(scan.output.map(_.name) === Seq("genome_id"))
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("genome_id"))
    assert(df.distinct().count() >= 4)
  }

  test("a directory of shards plans one partition per file") {
    val dir = Paths.get(tempDir("graft_v2"))
    Files.copy(Paths.get(res("genome-records.jsonl")),
      dir.resolve("part-0.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(res("genome-records.jsonl")),
      dir.resolve("part-1.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    val df = v2(dir.toString)
    assert(df.rdd.getNumPartitions === 2)
    assert(df.filter(col("genome_id").isNotNull).count() === 8)
  }

  test("V2 sink round-trip: staged-commit JSONL out, V2 source back") {
    val dir = tempDir("graft_v2_sink") + "/out"
    val src = v2(res("genome-records.jsonl"))
      .filter(col("genome_id").isNotNull)
    src.repartition(3)
      .write.format("graft.sources.v2.GenomeSink")
      .mode("append").option("path", dir).save()
    val files = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".jsonl")).sorted
    assert(files.length === 3, files.mkString(","))
    assert(files.forall(_.startsWith("part-")), "staged files left behind")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_tmp-")), "uncommitted staging visible")
    val back = v2(dir).filter(col("genome_id").isNotNull)
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("streaming read: file-set offsets give exactly-once across restart") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Paths.get(tempDir("graft_v2_stream"))
    val ckpt = tempDir("graft_v2_ckpt")
    Files.copy(Paths.get(res("genome-records.jsonl")),
      dir.resolve("a.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    val outDir = tempDir("graft_v2_out")
    def drain(): Long = {
      val q = spark.readStream.format("graft.sources.v2.GenomeSource")
        .load(dir.toString)
        .filter(col("genome_id").isNotNull)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(outDir).count()
    }
    assert(drain() === 4) // file a processed
    // second run, same checkpoint, no new files: nothing re-read
    assert(drain() === 4)
    // a new shard lands; the restarted query reads ONLY the new file —
    // cumulative output grows by exactly one file's rows, no re-reads
    Files.copy(Paths.get(res("genome-records.jsonl")),
      dir.resolve("b.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    assert(drain() === 8)
  }

  test("malformed and short lines are skipped, not fatal") {
    // the fixture contains junk lines (FIXTURES.md §B); the connector
    // must come back with only well-formed objects
    val n = v2(res("genome-records.jsonl")).count()
    val total = spark.read.text(res("genome-records.jsonl")).count()
    assert(n < total)
  }
}
