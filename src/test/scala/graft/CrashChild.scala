package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.sources.VersionedTable.MatchedUpdate

/** Child process for CrashRecoverySpec: runs ONE table operation
  * against a shared root and HALTS the JVM (`Runtime.halt` — no
  * shutdown hooks, no cleanup, the closest JVM analog of SIGKILL) at
  * a chosen instant of the commit protocol:
  *
  *  - `beforeCas`:        data files (and DV sidecars / group files
  *                        of the op) fully written, first CAS attempt
  *                        not yet started — testBeforeCommit seam
  *  - `afterTmpManifest`: full temp manifest on disk, atomic publish
  *                        not yet attempted — testBeforeClaim seam
  *
  * Usage: CrashChild <root> <op> <killPoint>
  * op in {append, merge-cow, delete-mor, replace-where, truncate,
  * append-grouped}.  Exit code 42 = halted at the seam as intended;
  * any normal exit means the kill point never fired (spec fails). */
object CrashChild {
  def main(args: Array[String]): Unit = {
    val root = args(0); val op = args(1); val kill = args(2)
    val spark = GraftSession(2)
    import spark.implicits._
    val halt: () => Unit = () => Runtime.getRuntime.halt(42)
    kill match {
      case "beforeCas" => VersionedTable.testBeforeCommit = halt
      case "afterTmpManifest" => VersionedTable.testBeforeClaim = halt
      case other => sys.error(s"unknown kill point $other")
    }
    op match {
      case "append" | "append-grouped" =>
        VersionedTable.append(spark, root,
          (900L until 910L).map(i => (i, "crash")).toDF("doc_id", "text"),
          "doc_id", 1)
      case "merge-cow" =>
        VersionedTable.mergeInto(spark, root,
          (0L until 5L).map(i => (i, "crash-upd")).toDF("doc_id", "nt"),
          "doc_id", Seq(MatchedUpdate(Map("text" -> col("s.nt")))), 1)
      case "delete-mor" =>
        VersionedTable.deleteMoR(spark, root,
          col("doc_id") < 3, "doc_id")
      case "update-mor" =>
        VersionedTable.updateMoR(spark, root, col("doc_id") < 3,
          Map("text" -> lit("crash-mor")), "doc_id")
      case "replace-where" =>
        VersionedTable.replaceWhere(spark, root, col("doc_id") < 5,
          (0L until 5L).map(i => (i, "crash-rw")).toDF("doc_id", "text"),
          "doc_id", 1)
      case "truncate" =>
        VersionedTable.truncate(spark, root)
      case other => sys.error(s"unknown op $other")
    }
    // reaching here means the seam never fired — fail loudly
    System.exit(1)
  }
}
