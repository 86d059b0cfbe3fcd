package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Evidence harness for the two-level manifest's scaling claim: as a
  * table's FILE COUNT grows 100×, what a COMMIT writes and what a
  * KEY-SLICED READ resolves must stay ~flat under the (auto-enabled)
  * grouped layout, while the single-level layout pays O(all files) on
  * every commit.  Builds three tables — N files single-level, 100N
  * files single-level (pinned via manifest.groupSize=0), 100N files
  * auto-grouped (the auto seams lowered so the probe scale exercises
  * the exact production code path) — then measures for each:
  *
  *   - bytes of root manifest written by ONE trailing 1-file append
  *     (the marginal commit cost an ingest pipeline pays forever)
  *   - wall micros to cold-resolve (parse caches cleared) the
  *     snapshot for a 1-file key slice, the read-side driver cost
  *
  * Usage: ManifestScaleProbe <scratchDir> [nSmall] [factor]
  * Prints one summary line per table; numbers land in SCALE.md. */
object ManifestScaleProbe {
  def main(args: Array[String]): Unit = {
    val scratch = args(0)
    val nSmall = if (args.length > 1) args(1).toInt else 100
    val factor = if (args.length > 2) args(2).toInt else 100
    val nBig = nSmall * factor
    val spark = GraftSession()
    import spark.implicits._

    // probe-scale auto-group seams: same switch, smaller constants
    // (8192/4096 would need ~10^6 probe files to show two full groups)
    VersionedTable.AutoGroupFileThreshold = nSmall * 4
    VersionedTable.AutoGroupSize = nSmall * 2

    def build(root: String, nFiles: Int,
        pinSingleLevel: Boolean): Unit = {
      if (pinSingleLevel)
        VersionedTable.setProperty(spark, root,
          VersionedTable.ManifestGroupSizeProp, "0")
      // ~4 rows per file, ids range-clustered so key slices prune
      val df = (0L until nFiles * 4L).map(i => (i, i % 97))
        .toDF("id", "v").repartitionByRange(nFiles, col("id"))
      VersionedTable.append(spark, root, df, "id", nFiles)
      ()
    }

    def manifestBytes(root: String, v: Int): Long =
      new java.io.File(s"$root/_versions/v${"%06d".format(v)}.json")
        .length()

    def probe(tag: String, root: String): Unit = {
      val v0 = VersionedTable.latestVersion(spark, root).get
      val snap0 = VersionedTable.snapshot(spark, root, v0)
      // marginal commit: ONE small append on top
      val t0 = System.nanoTime()
      val v1 = VersionedTable.append(spark, root,
        Seq((999999999L, 1L)).toDF("id", "v"), "id", 1)
      val commitMs = (System.nanoTime() - t0) / 1e6
      val rootBytes = manifestBytes(root, v1)
      // cold key-sliced resolution: parse caches dropped, then the
      // driver-side snapshot resolve a 1-key read performs
      VersionedTable.clearSnapshotCacheForTest()
      val t1 = System.nanoTime()
      val sliced = VersionedTable.read(spark, root, version = Some(v1),
        idRange = Some((42L, 43L)))
      val resolveMs = (System.nanoTime() - t1) / 1e6
      val n = sliced.count() // sanity: the slice reads
      println(f"$tag%-28s files=${snap0.files.size}%7d " +
        f"groups=${snap0.groups.size}%4d rootManifestKB=${rootBytes / 1024}%7d " +
        f"marginalCommitMs=$commitMs%9.1f coldResolveMs=$resolveMs%8.1f " +
        f"sliceRows=$n%3d")
    }

    val small = s"$scratch/small_single"
    val bigSingle = s"$scratch/big_single"
    val bigGrouped = s"$scratch/big_grouped"
    build(small, nSmall, pinSingleLevel = false)
    build(bigSingle, nBig, pinSingleLevel = true)
    build(bigGrouped, nBig, pinSingleLevel = false)
    probe(s"${nSmall}f single-level", small)
    probe(s"${nBig}f single-level", bigSingle)
    probe(s"${nBig}f auto-grouped", bigGrouped)
    spark.stop()
  }
}
