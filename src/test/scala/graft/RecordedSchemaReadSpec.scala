package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.VersionedTable

/** Reads take each snapshot's schema from its manifest (`table.schema`)
  * instead of inferring one from the data files' footers.  This spec
  * pins `read`, its time travel, a fully pruned read and `changes`
  * against the footer-inferring (`mergeSchema`) read they replaced —
  * same column names, types, order and rows — on an evolved, a
  * column-mapped, a dropped-column and a merge-on-read table. */
class RecordedSchemaReadSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** The reference read: a mergeSchema scan of the snapshot's files,
    * deletion-vector rows masked per (file, key), mapped physical
    * names renamed back, dropped ones left out, and recorded columns
    * no file carries null-filled. */
  private def mergeSchemaRead(root: String, v: Int,
      idRange: Option[(Long, Long)] = None): DataFrame = {
    val snap = VersionedTable.snapshot(spark, root, v)
    val recorded = DataType.fromJson(
      snap.props(VersionedTable.TableSchemaProp)).asInstanceOf[StructType]
    val mapping: Map[String, String] =
      snap.props.get(VersionedTable.ColumnMappingProp).map { j =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(j)
        import scala.jdk.CollectionConverters._
        node.fieldNames().asScala.map(k => k -> node.get(k).asText()).toMap
      }.getOrElse(Map.empty)
    val dropped = snap.props.contains(VersionedTable.DroppedColsProp)
    val files = snap.files.filter(f =>
      idRange.forall { case (lo, hi) => f.maxId >= lo && f.minId <= hi })
    val raw =
      if (files.isEmpty)
        spark.read.option("mergeSchema", "true")
          .parquet(snap.files.map(_.path): _*).limit(0)
      else spark.read.option("mergeSchema", "true")
        .parquet(files.map(_.path): _*)
    val dvs = files.flatMap(_.dv).map(_.path).distinct
    val live =
      if (dvs.isEmpty) raw
      else {
        val key = snap.props(VersionedTable.TableKeyProp)
        raw.withColumn("__f",
          VersionedTable.normPathCol(col("_metadata.file_path")))
          .join(spark.read.parquet(dvs: _*),
            col("__f") === col("path") && col(key) === col("id"),
            "left_anti").drop("__f")
      }
    val have = live.columns.toSet
    val conformed =
      if (mapping.isEmpty && !dropped) live
      else live.select(recorded.fields.toIndexedSeq.map { f =>
        val phys = mapping.getOrElse(f.name, f.name)
        (if (have(phys)) col(phys) else lit(null).cast(f.dataType))
          .as(f.name)
      }: _*)
    recorded.fields.filterNot(f => conformed.columns.contains(f.name))
      .foldLeft(conformed)((acc, f) =>
        acc.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** The reference CHANGES BETWEEN a and b (no key pairing): per commit
    * that changed the file list, the multiset difference of the two
    * reference reads on the newer one's columns, unioned by name after
    * the initial load. */
  private def mergeSchemaChanges(root: String, a: Int, b: Int)
      : DataFrame = {
    def tag(df: DataFrame, t: String, v: Int) =
      df.withColumn("_change_type", lit(t)).withColumn("_commit_version", lit(v))
    val initial =
      if (a == 1) Seq(tag(mergeSchemaRead(root, 1), "insert", 1)) else Nil
    val perCommit = (math.max(2, a) to b).flatMap { v =>
      val files = Seq(v - 1, v).map(x =>
        VersionedTable.snapshot(spark, root, x).files
          .map(f => (f.path, f.dv.map(_.path))).toSet)
      if (files(0) == files(1)) Nil
      else {
        val to = mergeSchemaRead(root, v)
        val fromRaw = mergeSchemaRead(root, v - 1)
        // on the newer read's columns, struct fields it adds included
        val from = to.limit(0).unionByName(
          fromRaw.select(fromRaw.columns.filter(to.columns.contains)
            .map(col).toIndexedSeq: _*), allowMissingColumns = true)
        Seq(tag(to.exceptAll(from), "insert", v),
          tag(from.exceptAll(to), "delete", v))
      }
    }
    (initial ++ perCommit).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def assertSame(got: DataFrame, want: DataFrame,
      what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType), s"$what: schema")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.toString).sorted.toSeq
    assert(rows(got) === rows(want), s"$what: rows")
  }

  /** Every version's read and a fully pruned read of each, and the CDF
    * windows from v1 and from v2 to the head, against the references. */
  private def assertReadParity(root: String): Unit = {
    val latest = VersionedTable.latestVersion(spark, root).get
    (1 to latest).foreach { v =>
      assertSame(VersionedTable.read(spark, root, Some(v)),
        mergeSchemaRead(root, v), s"read v$v")
      assertSame(
        VersionedTable.read(spark, root, Some(v), idRange = Some((-9L, -1L))),
        mergeSchemaRead(root, v, Some((-9L, -1L))), s"pruned read v$v")
    }
    Seq(1, 2).foreach(a =>
      assertSame(VersionedTable.changes(spark, root, a, latest),
        mergeSchemaChanges(root, a, latest), s"changes($a, $latest)"))
  }

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")

  test("an evolved table (an append adds a column) reads like the " +
    "mergeSchema read, time travel before the change included") {
    val root = tempDir("graft_rs_evolved")
    VersionedTable.append(spark, root, docs(0 until 20), "doc_id", 2)
    VersionedTable.append(spark, root,
      (20 until 30).map(i => (i.toLong, s"text $i", i.toLong * 2))
        .toDF("doc_id", "text", "score"), "doc_id", 1)
    VersionedTable.merge(spark, root,
      Seq((3L, "upd", 7L)).toDF("doc_id", "text", "score"), "doc_id", 1)
    assert(VersionedTable.read(spark, root, Some(1)).columns.toSeq ===
      Seq("doc_id", "text"))
    assertReadParity(root)
  }

  /** doc_id, text and a `props` struct, with an `extra` field or not. */
  private def withProps(ids: Range, extra: Boolean): DataFrame = {
    val fields = Seq(col("id").cast("string").as("user"), col("id").as("n")) ++
      (if (extra) Seq((col("id") * 10).as("extra")) else Nil)
    spark.range(ids.start.toLong, ids.end.toLong).select(col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text"), struct(fields: _*).as("props"))
  }

  test("a struct column gaining a field keeps it in every read and " +
    "through a rewrite, like the mergeSchema read") {
    val root = tempDir("graft_rs_nested")
    VersionedTable.append(spark, root, withProps(0 until 10, false),
      "doc_id", 2) // v1
    VersionedTable.append(spark, root, withProps(10 until 15, true),
      "doc_id", 1) // v2
    VersionedTable.merge(spark, root, withProps(3 until 4, true),
      "doc_id", 1) // v3
    VersionedTable.optimize(spark, root, 1000L, "doc_id", 1) // v4
    assert(VersionedTable.snapshot(spark, root, 4).files.size === 1)
    val wide = StructType(Seq(StructField("user", StringType),
      StructField("n", LongType), StructField("extra", LongType)))
    assert(VersionedTable.read(spark, root).schema("props").dataType === wide)
    // the rewrite kept the field: the head reads as v3's files did
    assertSame(VersionedTable.read(spark, root), mergeSchemaRead(root, 3),
      "v4 against v3's files")
    assert(VersionedTable.read(spark, root)
      .filter(col("doc_id").isin(3L, 5L, 12L)).orderBy("doc_id")
      .select(col("props.extra")).collect().toSeq ===
      Seq(Row(30L), Row(null), Row(120L)))
    assertReadParity(root)
    // a batch whose struct field has another type is refused before
    // it writes a file
    val clash = spark.range(20L, 21L).select(col("id").as("doc_id"),
      lit("t").as("text"), struct(lit("u").as("user"), lit("x").as("n"))
        .as("props"))
    val e = intercept[IllegalArgumentException](
      VersionedTable.append(spark, root, clash, "doc_id", 1))
    assert(e.getMessage.contains("props.n"))
    assert(VersionedTable.latestVersion(spark, root) === Some(4))
  }

  test("an overwrite may change a column's type and reads it like the " +
    "mergeSchema read; an append of another type is refused") {
    val root = tempDir("graft_rs_retype")
    VersionedTable.append(spark, root,
      (0 until 10).map(i => (i.toLong, s"text $i", i.toLong))
        .toDF("doc_id", "text", "score"), "doc_id", 2) // v1
    VersionedTable.overwrite(spark, root,
      (0 until 6).map(i => (i.toLong, s"grade $i")).toDF("doc_id", "score"),
      "doc_id", 1) // v2
    // no live file carries `text`: it keeps its recorded position (the
    // connector's order), where the reference, ordered by the files'
    // footers, appends it
    assert(VersionedTable.read(spark, root).schema.map(f =>
      f.name -> f.dataType) === Seq("doc_id" -> LongType,
        "text" -> StringType, "score" -> StringType))
    assertSame(VersionedTable.read(spark, root),
      mergeSchemaRead(root, 2).select("doc_id", "text", "score"), "read v2")
    assertSame(VersionedTable.read(spark, root, Some(1)),
      mergeSchemaRead(root, 1), "read v1")
    val e = intercept[IllegalArgumentException](
      VersionedTable.append(spark, root,
        Seq((20L, "t", 3L)).toDF("doc_id", "text", "score"), "doc_id", 1))
    assert(e.getMessage.contains("'score'"))
    assert(VersionedTable.latestVersion(spark, root) === Some(2))
    // decimals of one scale widen to the larger precision, as mergeSchema
    VersionedTable.append(spark, root,
      spark.range(30L, 33L).select(col("id").as("doc_id"),
        col("id").cast("decimal(5,2)").as("price")), "doc_id", 1) // v3
    VersionedTable.append(spark, root,
      spark.range(33L, 35L).select(col("id").as("doc_id"),
        col("id").cast("decimal(9,2)").as("price")), "doc_id", 1) // v4
    assert(VersionedTable.read(spark, root).schema("price").dataType ===
      DecimalType(9, 2))
    Seq(3, 4).foreach { v =>
      val got = VersionedTable.read(spark, root, Some(v))
      assertSame(got, mergeSchemaRead(root, v).select(got.columns.map(col)
        .toIndexedSeq: _*), s"read v$v")
    }
  }

  test("a column-mapped (renamed) table reads like the mergeSchema " +
    "read") {
    val root = tempDir("graft_rs_mapped")
    VersionedTable.append(spark, root, docs(0 until 20), "doc_id", 2)
    VersionedTable.renameColumn(spark, root, "text", "body")
    VersionedTable.append(spark, root,
      (20 until 25).map(i => (i.toLong, s"body $i")).toDF("doc_id", "body"),
      "doc_id", 1)
    VersionedTable.update(spark, root, col("doc_id") === 2L,
      Map("body" -> lit("upd")), "doc_id", 1)
    assertReadParity(root)
  }

  test("a dropped-column table reads like the mergeSchema read") {
    val root = tempDir("graft_rs_dropped")
    VersionedTable.append(spark, root,
      (0 until 20).map(i => (i.toLong, s"text $i", i.toLong))
        .toDF("doc_id", "text", "gone"), "doc_id", 2)
    VersionedTable.dropColumn(spark, root, "gone")
    VersionedTable.append(spark, root, docs(20 until 25), "doc_id", 1)
    assertReadParity(root)
  }

  test("a merge-on-read (deletion-vector) table reads like the " +
    "mergeSchema read") {
    val root = tempDir("graft_rs_dv")
    VersionedTable.append(spark, root, docs(0 until 30), "doc_id", 3)
    VersionedTable.deleteMoR(spark, root, col("doc_id") % 4 === 1L, "doc_id")
    VersionedTable.updateMoR(spark, root, col("doc_id") === 6L,
      Map("text" -> lit("upd")), "doc_id", 1)
    assert(VersionedTable.snapshot(spark, root, 3).files.exists(_.dv.isDefined))
    assertReadParity(root)
  }

  test("a CDF window straddling a schema evolution and holding no-op " +
    "commits keeps every commit's columns, NULL where a commit " +
    "predates them, types aligned across the window") {
    val root = tempDir("graft_rs_cdf")
    VersionedTable.append(spark, root, docs(0 until 5), "doc_id", 1) // v1
    VersionedTable.append(spark, root, docs(5 until 8), "doc_id", 1) // v2
    VersionedTable.addColumn(spark, root, "score", LongType) // v3, no-op
    VersionedTable.setProperty(spark, root, "owner", "eval") // v4, no-op
    // a window whose only column-adding commit is a no-op
    val w = VersionedTable.changes(spark, root, 2, 4)
    assert(w.schema.map(f => f.name -> f.dataType) === Seq(
      "doc_id" -> LongType, "text" -> StringType,
      "_change_type" -> StringType, "_commit_version" -> IntegerType,
      "score" -> LongType))
    assert(w.orderBy("doc_id").collect().toSeq ===
      (5 until 8).map(i => Row(i.toLong, s"text $i", "insert", 2, null)))
    // only no-op commits: empty, with the no-op commit's column
    val none = VersionedTable.changes(spark, root, 3, 4)
    assert(none.columns.contains("score") && none.isEmpty)
    // drop and re-add `score` as a string, then write it: one fused
    // feed over the window, the newest type winning
    VersionedTable.append(spark, root,
      Seq((8L, "text 8", 80L)).toDF("doc_id", "text", "score"), "doc_id", 1)
    VersionedTable.dropColumn(spark, root, "score")
    VersionedTable.addColumn(spark, root, "score", StringType)
    VersionedTable.append(spark, root,
      Seq((9L, "text 9", "high")).toDF("doc_id", "text", "score"),
      "doc_id", 1)
    val all = VersionedTable.changes(spark, root, 2, 8, Some("doc_id"))
    assert(all.schema("score").dataType === StringType)
    assert(all.orderBy("doc_id").select("doc_id", "score", "_commit_version")
      .collect().toSeq === Seq(Row(5L, null, 2), Row(6L, null, 2),
        Row(7L, null, 2), Row(8L, "80", 5), Row(9L, "high", 8)))
    // a window from v1 whose first load carries the column the later
    // drop and re-add retypes: v1 is aligned like every other commit
    val root1 = tempDir("graft_rs_cdf_v1")
    VersionedTable.append(spark, root1,
      Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "score"), "doc_id", 1) // v1
    VersionedTable.dropColumn(spark, root1, "score") // v2, no-op
    VersionedTable.addColumn(spark, root1, "score", StringType) // v3, no-op
    VersionedTable.append(spark, root1,
      Seq((3L, "high")).toDF("doc_id", "score"), "doc_id", 1) // v4
    val fromV1 = VersionedTable.changes(spark, root1, 1, 4, Some("doc_id"))
    assert(fromV1.schema.map(f => f.name -> f.dataType) === Seq(
      "doc_id" -> LongType, "score" -> StringType,
      "_change_type" -> StringType, "_commit_version" -> IntegerType))
    assert(fromV1.orderBy("doc_id").collect().toSeq === Seq(
      Row(1L, "10", "insert", 1), Row(2L, "20", "insert", 1),
      Row(3L, "high", "insert", 4)))
  }
}
