package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Evidence harness behind PARTITIONING.md: the same ×N documents
  * corpus laid out (a) hive-partitioned by `lang` and (b) as a graft
  * table clustered by `lang` with per-file string stats, then probed
  * with TWO predicate families:
  *   1. the partition-aligned predicate  `lang = 'de'`
  *   2. an off-axis predicate            `n_chars BETWEEN lo AND hi`
  * For each (layout, predicate) it reports wall time and the number
  * of FILES the scan actually opened (FileSourceScanExec's numFiles
  * metric for the hive layout; the manifest-pruned file count for the
  * graft layout), so the trade the doc argues — partitioning prunes
  * exactly one axis and fixes it at write time; cluster-stats prune
  * any clustered-enough axis from the same single layout — is
  * measured, not asserted.
  *
  * Usage: PartitionProbe <sfDir> <scratchDir> <factor> <reps> */
object PartitionProbe {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val scratch = args(1)
    val factor = args(2).toInt
    val reps = args(3).toInt
    val spark = GraftSession()

    val replicated =
      ScaleProbe.replicateDocuments(Tables.documents(spark, base), factor)

    // layout A: hive-style directory partitioning on lang
    val hiveDir = s"$scratch/hive_lang"
    replicated.write.mode("overwrite").partitionBy("lang")
      .parquet(hiveDir)
    // layout B: one graft table, clustered by lang (string stats make
    // lang-equality prune files; n_chars stats ride every file too)
    val graftRoot = s"$scratch/graft_clustered"
    VersionedTable.append(spark, graftRoot, replicated, "doc_id", 16)
    VersionedTable.optimizeClusterBy(spark, graftRoot, "lang",
      "doc_id", 16)
    // layout B2: the same graft table re-clustered by n_chars — what a
    // re-cluster costs when the dominant predicate changes, with no
    // reload and full history
    val graftRoot2 = s"$scratch/graft_recluster"
    VersionedTable.append(spark, graftRoot2, replicated, "doc_id", 16)
    VersionedTable.optimizeClusterBy(spark, graftRoot2, "n_chars",
      "doc_id", 16)

    // a narrow slice of the n_chars domain (48..553 in the fixture)
    val loChars = 120L; val hiChars = 160L

    def timeAndFiles(label: String, mk: () => (DataFrame, Long)): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val (df, nFiles) = mk()
        df.queryExecution.toRdd.count()
        // AQE wraps the final plan: search the WHOLE tree (including
        // adaptive subtrees) for the scan's numFiles metric
        def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[Long] = p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scansOf(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f.metrics("numFiles").value)
          case other => other.children.flatMap(scansOf)
        }
        val scanned = scansOf(df.queryExecution.executedPlan)
          .headOption.getOrElse(nFiles)
        spark.catalog.clearCache()
        ((System.nanoTime() - t0) / 1e9, scanned)
      }
      val files = times.last._2
      println(f"$label%-34s files=$files%-5d " +
        times.map(t => f"${t._1}%7.2f").mkString(" "))
    }

    def agg(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))

    (1 to 1).foreach { _ =>
      // 1. partition-aligned predicate: lang = 'de'
      timeAndFiles("hive  lang='de'", () =>
        (agg(spark.read.parquet(hiveDir).filter(col("lang") === "de")),
          -1L))
      timeAndFiles("graft lang='de'", () => {
        val pruned = VersionedTable.read(spark, graftRoot,
          strRanges = Map("lang" -> ("de", "de")))
          .filter(col("lang") === "de")
        val n = VersionedTable.snapshot(spark, graftRoot,
          VersionedTable.latestVersion(spark, graftRoot).get).files
          .count(f => f.sstats.get("lang")
            .forall { case (mn, mx) => mx >= "de" && mn <= "de" })
        (agg(pruned), n.toLong)
      })
      // 2. off-axis predicate: n_chars range — the hive layout cannot
      // prune AT ALL (every lang directory holds every n_chars), the
      // lang-clustered graft table prunes only via residual stats, and
      // the re-clustered graft table prunes hard — from ONE layout
      // mechanism, switched by a maintenance command, not a reload
      timeAndFiles("hive  n_chars range", () =>
        (agg(spark.read.parquet(hiveDir)
          .filter(col("n_chars").between(loChars, hiChars))), -1L))
      timeAndFiles("graft n_chars range (lang-clust)", () => {
        val pruned = VersionedTable.read(spark, graftRoot,
          ranges = Map("n_chars" -> (loChars, hiChars)))
          .filter(col("n_chars").between(loChars, hiChars))
        val n = VersionedTable.statsPrunedFiles(
          VersionedTable.snapshot(spark, graftRoot,
            VersionedTable.latestVersion(spark, graftRoot).get).files,
          Map("n_chars" -> (loChars, hiChars))).size
        (agg(pruned), n.toLong)
      })
      timeAndFiles("graft n_chars range (re-clust)", () => {
        val pruned = VersionedTable.read(spark, graftRoot2,
          ranges = Map("n_chars" -> (loChars, hiChars)))
          .filter(col("n_chars").between(loChars, hiChars))
        val n = VersionedTable.statsPrunedFiles(
          VersionedTable.snapshot(spark, graftRoot2,
            VersionedTable.latestVersion(spark, graftRoot2).get).files,
          Map("n_chars" -> (loChars, hiChars))).size
        (agg(pruned), n.toLong)
      })
    }
    // small-file census: hive writes shuffle-partitions × partitions
    // leaf files; the graft layout is numFiles, period
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    def leafCount(dir: String): Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !st.getPath.getName.startsWith("_")) n += 1
      }
      n
    }
    println(s"leaf-files hive=${leafCount(hiveDir)} " +
      s"graft=${VersionedTable.snapshot(spark, graftRoot,
        VersionedTable.latestVersion(spark, graftRoot).get).files.size}")
    spark.stop()
  }
}
