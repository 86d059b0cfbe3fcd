package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.VersionedTable
import graft.sources.VersionedTable.FileEntry

/** Manifest entries are built from the written files' parquet footers.
  * This spec pins them against the per-file readback aggregation they
  * replaced (one pass over the files grouped by `input_file_name`):
  * entries must be equal, or carry no stat where the footer has none
  * (string bounds and null counts past parquet-mr's 4 KB stats
  * limit).  The one other
  * allowed difference is a string max that is tighter than the
  * readback's bumped one and still covers every value in the file. */
class ManifestEntryParitySpec extends SparkSpec with TempDirs {

  // VersionedTable's string cut and bloom geometry
  private val StrStatLen = 64
  private val BloomBits = 4096
  private val BloomWords = BloomBits / 64
  private val BloomHashes = 4

  /** The readback entries of `paths` (the aggregation writeFiles ran
    * before footers), plus each file's full string max per column, so
    * a tighter footer max can be checked against every value. */
  private def readback(paths: Seq[String], idCol: String,
      bloomCols: Set[String])
      : Map[String, (FileEntry, Map[String, String])] = {
    val back = spark.read.parquet(paths: _*)
    val statCols = back.schema.fields.toIndexedSeq
      .filter(_.name != idCol).collect {
        case f if f.dataType == LongType => f.name -> col(f.name)
        case f if f.dataType == TimestampType =>
          f.name -> unix_micros(col(f.name))
      }
    val strCols = back.schema.fields.toIndexedSeq
      .filter(f => f.dataType == StringType && f.name != idCol).map(_.name)
    val blooms = back.schema.fields.toIndexedSeq.filter(f =>
      bloomCols(f.name) &&
        (f.dataType == StringType || f.dataType == LongType)).map(_.name)
    val enriched = blooms.foldLeft(back) { (acc, c) =>
      (0 until BloomHashes).foldLeft(acc) { (a, i) =>
        a.withColumn(s"__pos_${c}_$i", when(col(c).isNull, lit(-1L))
          .otherwise(pmod(xxhash64(col(c), lit(i)), lit(BloomBits.toLong))))
      }
    }
    val nullCols = (statCols.map(_._1) ++ strCols).distinct
    val aggs = Seq(min(col(idCol)).as("minId"), max(col(idCol)).as("maxId")) ++
      statCols.flatMap { case (c, e) =>
        Seq(min(e).as(s"__mn_$c"), max(e).as(s"__mx_$c")) } ++
      strCols.flatMap(c => Seq(
        min(substring(col(c), 1, StrStatLen)).as(s"__smn_$c"),
        max(substring(col(c), 1, StrStatLen)).as(s"__smx_$c"),
        max(length(col(c))).as(s"__sln_$c"),
        max(col(c)).as(s"__full_$c"))) ++
      nullCols.map(c => count(col(c)).as(s"__cnt_$c")) ++
      blooms.flatMap { c =>
        (0 until BloomWords).map { w =>
          bit_or((0 until BloomHashes).map { i =>
            when(shiftright(col(s"__pos_${c}_$i"), 6) === lit(w.toLong),
              expr(s"shiftleft(1L, cast(__pos_${c}_$i % 64 as int))"))
              .otherwise(lit(0L))
          }.reduce(_ bitwiseOR _)).as(s"__bf_${c}_$w")
        }
      }
    val sizes = paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      VersionedTable.normPath(p) -> hp.getFileSystem(
        spark.sparkContext.hadoopConfiguration).getFileStatus(hp).getLen
    }.toMap
    enriched.groupBy(input_file_name().as("path"))
      .agg(count(lit(1)).as("rows"), aggs: _*).collect().map { r: Row =>
        val rows = r.getAs[Long]("rows")
        val stats = statCols.map(_._1).flatMap { c =>
          Option(r.getAs[Any](s"__mn_$c")).map(mn =>
            c -> (mn.asInstanceOf[Long], r.getAs[Long](s"__mx_$c")))
        }.toMap
        val sstats = strCols.flatMap { c =>
          val mn = r.getAs[String](s"__smn_$c")
          val mx = r.getAs[String](s"__smx_$c")
          val ln = r.getAs[Any](s"__sln_$c")
          if (mn == null) None
          else {
            val bumped =
              if (ln.asInstanceOf[Int] <= StrStatLen) Some(mx)
              else {
                val cs = mx.toCharArray
                var i = cs.length - 1
                while (i >= 0 && cs(i) == Char.MaxValue) i -= 1
                if (i < 0) None
                else Some(new String(cs, 0, i) + (cs(i) + 1).toChar)
              }
            bumped.map(up => c -> (mn, up))
          }
        }.toMap
        val bloomWords = blooms.map(c => c -> (0 until BloomWords).map { w =>
          val x = r.getAs[Any](s"__bf_${c}_$w")
          if (x == null) 0L else x.asInstanceOf[Long]
        }).toMap
        val nulls = nullCols.map(c => c -> (rows - r.getAs[Long](s"__cnt_$c")))
          .toMap
        val path = r.getAs[String]("path")
        VersionedTable.normPath(path) -> (FileEntry(path, rows,
          r.getAs[Long]("minId"), r.getAs[Long]("maxId"), None, stats,
          sstats, bloomWords, sizes(VersionedTable.normPath(path)), nulls),
          strCols.flatMap(c =>
            Option(r.getAs[String](s"__full_$c")).map(c -> _)).toMap)
      }.toMap
  }

  /** Every entry of `files` against the readback of the same files. */
  private def assertParity(files: Seq[FileEntry], idCol: String,
      bloomCols: Set[String]): Unit = {
    val ref = readback(files.map(_.path), idCol, bloomCols)
    assert(ref.size === files.size)
    files.foreach { e =>
      val (r, fullMax) = ref(VersionedTable.normPath(e.path))
      val where = s"${e.path}: footer $e, readback $r"
      assert(e.path === r.path, where)
      assert((e.rows, e.minId, e.maxId, e.bytes) ===
        (r.rows, r.minId, r.maxId, r.bytes), where)
      assert(e.stats === r.stats, where)
      // parquet-mr drops a column's whole statistics past the 4 KB
      // limit, its null count with its bounds
      assert(e.nulls === r.nulls -- (r.sstats.keySet -- e.sstats.keySet),
        where)
      assert(e.blooms === r.blooms, where)
      assert(e.dv.isEmpty, where)
      r.sstats.foreach { case (c, (mn, mx)) =>
        e.sstats.get(c) match {
          case None =>
            // the footer dropped the bounds: only past the 4 KB limit
            assert(fullMax(c).length > 2048, s"$c missing; $where")
          case Some((emn, emx)) =>
            assert(emn === mn, s"$c min; $where")
            assert(emx === mx || (emx < mx && emx >= fullMax(c)),
              s"$c max; $where")
        }
      }
      assert(e.sstats.keySet.subsetOf(r.sstats.keySet), where)
    }
  }

  private def footerRowGroups(path: String): Int = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf))
    try rd.getFooter.getBlocks.size finally rd.close()
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n", LongType),
    StructField("ts", TimestampType), StructField("lang", StringType),
    StructField("text", StringType), StructField("blob", StringType),
    StructField("none_s", StringType), StructField("none_l", LongType),
    StructField("tag", LongType)))

  /** Rows `ids`: nullable longs, timestamps, a short bloomed string,
    * text past the 64-char cut (the max itself past it below id 30,
    * only lesser values past it above), text past 4 KB from `bigFrom`
    * on, and two all-null columns. */
  private def rows(ids: Seq[Long], bigFrom: Long) = {
    val data = ids.map { i =>
      Row(i, if (i % 5 == 0) null else i * 3,
        new java.sql.Timestamp(1700000000000L + i * 1000L),
        Seq("en", "fr", "de")(i.toInt % 3),
        if (i % 4 == 1 && i < 30) s"u${"x" * (60 + i.toInt % 40)}"
        else if (i % 4 == 3) s"a${"x" * 70}" else s"t$i",
        if (i >= bigFrom) "z" * 5000 else s"b$i",
        null, null, i % 7)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
  }

  test("footer entries equal the readback on a native write: longs, " +
    "INT96 timestamps, cut and over-4KB strings, all-null columns, " +
    "blooms, and a renamed (column-mapped) column") {
    val root = tempDir("graft_entry_native")
    VersionedTable.create(spark, root, schema, "doc_id",
      Map(VersionedTable.BloomColsProp -> "lang,tag"))
    VersionedTable.append(spark, root, rows(0L until 90L, 80L), "doc_id", 3)
    val v2 = VersionedTable.snapshot(spark, root, 2)
    assert(v2.files.size === 3)
    // the over-4KB file carries no blob bound; the others do
    assert(v2.files.count(_.sstats.contains("blob")) === 2)
    assertParity(v2.files, "doc_id", Set("lang", "tag"))
    // rename: files written after it store `language` under `lang`
    VersionedTable.renameColumn(spark, root, "lang", "language")
    val renamed = rows(100L until 160L, 1000L)
      .withColumnRenamed("lang", "language")
    VersionedTable.append(spark, root, renamed, "doc_id", 2)
    val head = VersionedTable.snapshot(spark, root, 4)
    val added = head.files.filterNot(f => v2.files.exists(_.path == f.path))
    assert(added.size === 2)
    assert(added.forall(_.sstats.contains("lang")))
    assertParity(added, "doc_id", Set("lang", "tag"))
  }

  test("footer entries equal the readback on converted files with " +
    "several row groups and TIMESTAMP_MICROS timestamps") {
    val dir = tempDir("graft_entry_plain")
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      rows(0L until 3000L, 2990L).drop("none_s")
        .repartitionByRange(2, col("doc_id"))
        .write.mode("overwrite").option("parquet.block.size", "16384")
        .parquet(dir)
    }
    val root = tempDir("graft_entry_conv")
    VersionedTable.convert(spark, root, dir, "doc_id")
    val files = VersionedTable.snapshot(spark, root, 1).files
    assert(files.size === 2)
    assert(files.forall(f => footerRowGroups(f.path) > 1),
      "each file must span several row groups")
    assert(files.forall(_.stats.contains("ts")))
    assertParity(files, "doc_id", Set.empty)
  }
}
