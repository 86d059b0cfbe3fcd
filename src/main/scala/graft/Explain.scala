package graft

/** Plan auditor: prints the formatted physical plan for the named queries
  * (or all), for checking pushdown (PushedFilters/ReadSchema), join
  * strategy (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen
  * spans.  Usage: runMain graft.Explain <sfDir> [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("retrieval_eval_detail", "cosine_topk", "equijoin_meta",
        "dedup_minhash_lsh", "tumbling_window_counts", "scan_text_lines",
        "ann_lsh_topk", "text_langid")
    val spark = GraftSession()
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    names.foreach { n =>
      println(s"\n========== $n ==========")
      byName.get(n) match {
        case Some(q) => q.fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
