package graft

import org.apache.spark.sql.functions._

/** The side-effect sinks that can't be oracle-checked (SURVEY S6/S10):
  * partitioned per-record fan-out and idempotent overwrite/ignore. */
class SinkSpec extends SparkSpec with TempDirs {

  test("per-record fan-out: partitionBy(source) writes one dir per corpus") {
    val out = tempDir("graft_sink")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("source=")).map(_.getName).sorted
    assert(dirs.length === 20, dirs.mkString(","))
    val back = spark.read.parquet(out)
    assert(back.count() === Tables.documents(spark, sfDir).count())
    // partition pruning on read: only one dir scanned
    val one = back.filter(col("source") === "src3")
    assert(one.count() === 25)
  }

  test("small-file compaction: many shards rewritten to target file count, " +
    "contents identical") {
    val out = tempDir("graft_compact")
    val frag = s"$out/fragmented"
    val compact = s"$out/compacted"
    // simulate a streaming/hourly ingest that left many tiny files
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .repartition(64)
      .write.mode("overwrite").parquet(frag)
    val shards = new java.io.File(frag).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(shards >= 32, s"expected many shards, got $shards")
    // compaction pass: read + coalesce to a target and rewrite — the
    // maintenance job that keeps scan task counts sane at 100 TB (real
    // deployments size by bytes via maxRecordsPerFile; the shape is the
    // same single narrow rewrite, no shuffle with coalesce)
    spark.read.parquet(frag).coalesce(2)
      .write.mode("overwrite")
      .parquet(compact)
    val after = new java.io.File(compact).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after <= 2, s"compaction left $after files")
    val a = spark.read.parquet(frag)
    val b = spark.read.parquet(compact)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("writer-side schema evolution: appended column visible under " +
    "mergeSchema, absent rows null") {
    val out = tempDir("graft_evolve") + "/t"
    Tables.documents(spark, sfDir).limit(4)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(out)
    Tables.documents(spark, sfDir).filter(col("doc_id") >= 4).limit(3)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.mode("append").parquet(out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "text"))
    assert(merged.count() === 7)
    assert(merged.filter(col("lang").isNull).count() === 4)
    assert(merged.filter(col("lang").isNotNull).count() === 3)
    // the un-merged read keeps working on the footer schema it samples
    assert(spark.read.parquet(out).count() === 7)
  }

  test("idempotent rebuild: overwrite replaces, ignore skips (DG:64-65 semantics)") {
    val out = tempDir("graft_sink2") + "/t"
    val d5 = Tables.documents(spark, sfDir).limit(5)
      .select(col("doc_id"), col("text"))
    d5.write.mode("overwrite").parquet(out)
    assert(spark.read.parquet(out).count() === 5)
    // overwrite: delete + rebuild (TM:233-235)
    Tables.documents(spark, sfDir).limit(3)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(out)
    assert(spark.read.parquet(out).count() === 3)
    // ignore: exists-check before write (DG:64-65) — no-op on existing dir
    d5.write.mode("ignore").parquet(out)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("ORC round-trip: write + read back preserves rows and schema") {
    val out = tempDir("graft_orc") + "/t"
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    // columnar format honors pushdown on read like parquet
    assert(back.filter(col("lang") === "en").count() ===
      src.filter(col("lang") === "en").count())
  }

  test("XML round-trip: Spark 4 built-in xml source preserves records") {
    val dir = tempDir("graft-xml")
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .filter(col("doc_id") < 50)
    src.write.mode("overwrite").option("rowTag", "doc")
      .format("xml").save(s"$dir/docs")
    val back = spark.read.option("rowTag", "doc")
      .schema(src.schema).format("xml").load(s"$dir/docs")
    assert(back.count() === src.count())
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a === b, "XML round-trip changed record contents")
  }
}
