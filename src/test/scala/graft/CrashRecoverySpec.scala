package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** FAULT INJECTION for the manifest-CAS commit protocol: a committer
  * killed at any instant must leave either NO new version (retryable
  * by anyone) or a COMPLETE one — never a torn manifest, never a
  * head that references half-written state.  Each case SIGKILLs
  * (Runtime.halt in a child JVM — no cleanup, no shutdown hooks) a
  * separate process mid-commit at a deterministic seam, then asserts
  * from the surviving process that (1) the version history is exactly
  * what it was, (2) the head snapshot parses and reads byte-identical
  * rows, and (3) a subsequent commit of the SAME operation succeeds —
  * the crashed attempt's orphans (data files, DV sidecars, `.tmp-`
  * manifests, group sidecars) are invisible garbage, not corruption.
  * Covers append, MERGE (CoW), MoR DELETE, REPLACE WHERE, TRUNCATE
  * and a two-level-manifest commit, at both kill points. */
class CrashRecoverySpec extends SparkSpec {

  private def freshRoot(kind: String): String =
    Scratch.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_crash_${kind}_" +
        s"${spark.sparkContext.applicationId}")

  private def build(root: String, grouped: Boolean = false): Unit = {
    import spark.implicits._
    if (grouped)
      VersionedTable.setProperty(spark, root,
        VersionedTable.ManifestGroupSizeProp, "2")
    VersionedTable.append(spark, root,
      (0L until 20L).map(i => (i, s"base-$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")),
      "doc_id", 4)
    ()
  }

  /** Run the child to its halt; returns its exit code. */
  private def crash(root: String, op: String, kill: String): Int = {
    val p = ChildJvm.start("graft.CrashChild", root, op, kill)
    val done = p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) {
      // never leak a live Spark child still holding the shared root
      p.destroyForcibly()
      p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      fail(s"crash child $op/$kill did not finish (killed)")
    }
    p.exitValue()
  }

  /** The whole law in one shot: snapshot state, kill a child
    * mid-`op`, assert nothing moved and rows read identically, then
    * prove the table still ACCEPTS commits with a no-op-safe append
    * and (optionally) the op's own retry from this process. */
  private def assertCrashSafe(root: String, op: String, kill: String)
      (retry: => Int): Unit = {
    val vBefore = VersionedTable.versions(spark, root)
    val rowsBefore = VersionedTable.read(spark, root)
      .orderBy("doc_id").collect().toSeq
    val exit = crash(root, op, kill)
    assert(exit === 42, s"$op/$kill: child exited $exit, not at the seam")
    // snapshot caches would mask a torn manifest written by the child:
    // clear and re-list from the filesystem
    VersionedTable.clearSnapshotCacheForTest()
    assert(VersionedTable.versions(spark, root) === vBefore,
      s"$op/$kill: a killed pre-CAS commit must publish NOTHING")
    val rowsAfter = VersionedTable.read(spark, root)
      .orderBy("doc_id").collect().toSeq
    assert(rowsAfter === rowsBefore,
      s"$op/$kill: surviving readers must see byte-identical rows")
    // the table still takes commits: re-run the op from THIS process
    val v = retry
    assert(v === vBefore.last + 1,
      s"$op/$kill: post-crash retry must claim the next slot, got $v")
    ()
  }

  test("append killed at BOTH seams: no version appears, the retry " +
    "lands; a torn stray data file never corrupts reads (manifest-" +
    "driven discovery)") {
    import spark.implicits._
    val root = freshRoot("app")
    build(root)
    assertCrashSafe(root, "append", "beforeCas") {
      VersionedTable.append(spark, root,
        (900L until 910L).map(i => (i, "crash")).toDF("doc_id", "text"),
        "doc_id", 1)
    }
    // a torn data-file write (garbage bytes, parquet-suffixed) in the
    // data dir: readers must never touch it — file discovery is the
    // manifest, not a directory listing
    val stray = new java.io.File(s"$root/data/torn-write.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.write(stray.toPath,
      Array.fill[Byte](128)(0x5a))
    assert(VersionedTable.read(spark, root).count() === 30L)
    assertCrashSafe(root, "append", "afterTmpManifest") {
      VersionedTable.append(spark, root,
        (920L until 930L).map(i => (i, "crash2")).toDF("doc_id", "text"),
        "doc_id", 1)
    }
    // exactly the two successful appends landed
    assert(VersionedTable.read(spark, root).count() === 40L)
    // the afterTmpManifest kill left a `.tmp-` orphan in _versions;
    // vacuum reclaims it (age-gated) without touching live state
    val vdir = new java.io.File(s"$root/_versions")
    assert(vdir.listFiles().exists(_.getName.startsWith(".tmp-")),
      "the killed committer should have left a tmp-manifest orphan")
    ageFiles(s"$root/_versions")
    VersionedTable.vacuum(spark, root,
      keepFrom = 1, retainMs = 0L)
    assert(!vdir.listFiles().exists(_.getName.startsWith(".tmp-")),
      "vacuum must GC crashed committers' tmp-manifest orphans")
    assert(VersionedTable.read(spark, root).count() === 40L)
  }

  test("copy-on-write MERGE killed pre-CAS: rewritten files stay " +
    "unpublished, the head keeps serving the pre-merge rows, the " +
    "merge retries clean") {
    import spark.implicits._
    val root = freshRoot("mcow")
    build(root)
    assertCrashSafe(root, "merge-cow", "beforeCas") {
      VersionedTable.mergeInto(spark, root,
        (0L until 5L).map(i => (i, "crash-upd")).toDF("doc_id", "nt"),
        "doc_id",
        Seq(VersionedTable.MatchedUpdate(Map("text" -> col("s.nt")))), 1)
    }
    val got = VersionedTable.read(spark, root)
    assert(got.filter(col("text") === "crash-upd").count() === 5L)
    assert(got.count() === 20L)
  }

  test("MoR DELETE killed after the temp manifest (DV sidecar on " +
    "disk): no mask becomes visible, the retry masks exactly once") {
    val root = freshRoot("mor")
    build(root)
    assertCrashSafe(root, "delete-mor", "afterTmpManifest") {
      VersionedTable.deleteMoR(spark, root, col("doc_id") < 3, "doc_id")
    }
    val got = VersionedTable.read(spark, root)
    assert(got.count() === 17L)
    assert(got.filter(col("doc_id") < 3).count() === 0L)
  }

  test("MoR UPDATE killed after the temp manifest (DV sidecar AND " +
    "post-image files on disk): neither becomes visible, the retry " +
    "applies the update exactly once") {
    val root = freshRoot("umor")
    build(root)
    assertCrashSafe(root, "update-mor", "afterTmpManifest") {
      VersionedTable.updateMoR(spark, root, col("doc_id") < 3,
        Map("text" -> lit("crash-mor")), "doc_id")
    }
    val got = VersionedTable.read(spark, root)
    assert(got.count() === 20L)
    assert(got.filter(col("text") === "crash-mor").count() === 3L)
  }

  test("REPLACE WHERE killed pre-CAS: the slice is not half-swapped " +
    "(old rows intact), the retry swaps it whole") {
    import spark.implicits._
    val root = freshRoot("rw")
    build(root)
    assertCrashSafe(root, "replace-where", "beforeCas") {
      VersionedTable.replaceWhere(spark, root, col("doc_id") < 5,
        (0L until 5L).map(i => (i, "crash-rw")).toDF("doc_id", "text"),
        "doc_id", 1)
    }
    val got = VersionedTable.read(spark, root)
    assert(got.filter(col("text") === "crash-rw").count() === 5L)
    assert(got.count() === 20L)
  }

  test("TRUNCATE killed after the temp manifest: the table still has " +
    "every row; the retry truncates") {
    val root = freshRoot("trunc")
    build(root)
    assertCrashSafe(root, "truncate", "afterTmpManifest") {
      VersionedTable.truncate(spark, root)
    }
    assert(VersionedTable.read(spark, root).count() === 0L)
  }

  test("two-level-manifest commit killed after the temp manifest " +
    "(group sidecars on disk): orphan groups are invisible, the " +
    "retry commits a consistent grouped snapshot") {
    import spark.implicits._
    val root = freshRoot("grp")
    build(root, grouped = true)
    assert(VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get).groups.nonEmpty,
      "fixture must actually use the two-level layout")
    assertCrashSafe(root, "append-grouped", "afterTmpManifest") {
      VersionedTable.append(spark, root,
        (900L until 910L).map(i => (i, "crash")).toDF("doc_id", "text"),
        "doc_id", 1)
    }
    val head = VersionedTable.snapshot(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(head.groups.nonEmpty)
    assert(VersionedTable.read(spark, root).count() === 30L)
  }
}
