package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** VACUUM vs concurrent readers: the retention floor is POLICY; this
  * spec pins the MECHANICS on both sides of it.  A scan pinned to a
  * KEPT snapshot keeps working through a concurrent VACUUM (its files
  * are referenced by a kept manifest and therefore never reclaimed),
  * while a scan pinned to a RECLAIMED snapshot fails LOUDLY at its
  * next execution — a missing-file error, never a silent partial
  * result (`ignoreMissingFiles` stays false; serving the surviving
  * subset of a time-travel read would be quiet data loss). */
class VacuumReaderRaceSpec extends SparkSpec {

  test("a scan of a kept snapshot survives a concurrent VACUUM; a " +
    "scan of a reclaimed snapshot fails detectably, never partially") {
    import spark.implicits._
    val root = Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_vacrace_" +
        s"${spark.sparkContext.applicationId}")
    // v1: 20 rows in files only v1 references after the overwrite
    VersionedTable.append(spark, root,
      (0L until 20L).map(i => (i, s"old-$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    // v2: overwrite — fresh files, v1's become history-only
    VersionedTable.overwrite(spark, root,
      (100L until 130L).map(i => (i, s"new-$i")).toDF("doc_id", "text"),
      "doc_id", 2)
    // v3: one more append so the kept range is v2..v3
    VersionedTable.append(spark, root,
      (200L until 210L).map(i => (i, s"tail-$i")).toDF("doc_id", "text"),
      "doc_id", 1)
    // both scans are IN FLIGHT: planned against their snapshots' file
    // lists, and proven executable before the vacuum
    val kept = VersionedTable.read(spark, root, version = Some(2))
    val doomed = VersionedTable.read(spark, root, version = Some(1))
    assert(kept.count() === 30L)
    assert(doomed.count() === 20L)
    // age the data files past the horizon so retainMs=0 (the
    // deliberate sub-floor override) can reclaim
    ageFiles(s"$root/data")
    val (_, deleted) =
      VersionedTable.vacuum(spark, root, keepFrom = 2, retainMs = 0L)
    assert(deleted > 0, "v1's exclusive files must be reclaimed")
    // the kept scan re-executes IDENTICALLY through the vacuum
    assert(kept.count() === 30L,
      "a reader of a kept snapshot must survive a concurrent VACUUM")
    assert(VersionedTable.read(spark, root).count() === 40L)
    // the reclaimed scan fails LOUDLY — a missing-file error somewhere
    // in the cause chain, and no silent partial row count
    val e = intercept[Exception] { doomed.count() }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        (t.getMessage != null &&
          (t.getMessage.contains("does not exist") ||
            t.getMessage.contains("FileNotFound")))),
      s"expected a loud missing-file failure, got: " +
        chain.map(_.getClass.getSimpleName).mkString(" <- "))
    // ...and the time-travel ENTRY point is gone too: the reclaimed
    // version no longer resolves (clear the parse cache to observe
    // the filesystem, as a fresh process would)
    VersionedTable.clearSnapshotCacheForTest()
    intercept[Exception] {
      VersionedTable.read(spark, root, version = Some(1)).count()
    }
    ()
  }
}
