package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** Child process for MultiWriterProcessSpec: a SEPARATE JVM committing
  * appends and a merge against a shared table root.  The in-JVM race
  * specs exercise the CAS loop between threads, but the claimed commit
  * contract is filesystem-atomic slot claim BETWEEN PROCESSES — two
  * JVMs share no locks, no snapshot cache, no JVM memory fences, so
  * only a spawned process actually tests it.
  *
  * Usage: MultiWriterChild <root> <writerId> <numAppends>
  * Each append commits rows [writerId*100000 + i*100, +10); the final
  * merge updates the writer's OWN first batch (text -> "merged-<id>"),
  * forcing copy-on-write rewrites that race the other writer's commits.
  * Exits 0 only if every commit returned a version. */
object MultiWriterChild {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val writerId = args(1).toInt
    val numAppends = args(2).toInt
    val spark = GraftSession(2)
    import spark.implicits._
    try {
      (0 until numAppends).foreach { i =>
        val base = writerId * 100000L + i * 100L
        val df = (base until base + 10L)
          .map(id => (id, s"w$writerId-c$i")).toDF("doc_id", "text")
        val v = VersionedTable.append(spark, root, df, "doc_id", 1,
          op = s"append-w$writerId-$i")
        require(v > 0, s"append $i returned $v")
      }
      // merge races the sibling's commits: conflict-retry across JVMs
      val first = writerId * 100000L
      val upd = (first until first + 10L)
        .map(id => (id, s"merged-$writerId")).toDF("doc_id", "text")
      val v = VersionedTable.merge(spark, root, upd, "doc_id", 1,
        txnId = Some(s"mw-merge-$writerId"))
      require(v > 0, s"merge returned $v")
      ()
    } finally spark.stop()
  }
}
