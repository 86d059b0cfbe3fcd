package stagebench

/** Per-layer metrics of the traced passes: each is computed per pass
  * and reported as the median over the traced passes. */
object Layers {
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((tot, end), (a, b)) =>
        if (b <= end) (tot, end)
        else (tot + b - math.max(a, end), b)
    }._1

  private def covered(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long =
    union(iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })

  /** Self time: a span's duration minus what its child spans cover. */
  def selfMs(passes: Seq[Main.PassRec]): Map[String, Double] = {
    val perPass = passes.map { p =>
      val kids = p.spans.groupBy(_.parent)
      p.spans.map { s =>
        s.layer -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
    perPass.flatMap(_.keys).distinct
      .map(l => l -> Main.median(perPass.map(_.getOrElse(l, 0.0)))).toMap
  }

  def metrics(passes: Seq[Main.PassRec], cores: Int): Map[String, (Double, String)] = {
    val perPass = passes.map { p => pass(p, cores) }
    perPass.flatMap(_.keys).distinct.map { k =>
      k -> (Main.median(perPass.map(_(k)._1)), perPass.head(k)._2)
    }.toMap
  }

  private def pass(p: Main.PassRec, cores: Int): Map[String, (Double, String)] = {
    def spansOf(layer: String, names: String*) =
      p.spans.filter(s => s.layer == layer && (names.isEmpty || names.contains(s.name)))
    def ms(ss: Seq[Span]) = ss.map(_.ms).sum
    def jobsIn(ss: Seq[Span]) = { val ids = ss.map(_.id).toSet; p.jobs.filter(j => ids(j.span)) }
    def jobMs(js: Seq[JobRec]) = union(js.map(j => (j.startMs, j.endMs))).toDouble
    val st = p.stages
    val stageIv = st.map(s => (s.submitMs, s.doneMs))
    val stageWall = st.map(s => (s.doneMs - s.submitMs).toDouble).sum
    val runMs = st.map(_.runMs.toDouble).sum
    val busy = union(stageIv).toDouble
    // time inside calls that run actions, with no stage running
    val actionSpans = spansOf("stages") ++ spansOf("sources") ++ spansOf("pipelines")
    val gap = actionSpans.map(s => (s.endMs - s.startMs) -
      covered(s.startMs, s.endMs, stageIv)).sum.toDouble
    val commits = spansOf("sources", "append", "merge")
    // the pipeline's jobs by call site: its five recounts are `count`
    // actions, everything else is the partitioned write
    val (recounts, writes) = jobsIn(spansOf("pipelines"))
      .partition(_.name.startsWith("count at "))
    val ex = p.out.extra
    val live = ex.getOrElse("live_bytes", 0.0)
    Map(
      "queries.build_ms" -> (ms(spansOf("queries")), "ms"),
      "queries.build_jobs" -> (jobsIn(spansOf("queries")).size.toDouble, "count"),
      "plans.analysis_ms" -> (p.plans.map(_.analysisMs.toDouble).sum, "ms"),
      "plans.optimization_ms" -> (p.plans.map(_.optimizationMs.toDouble).sum, "ms"),
      "plans.planning_ms" -> (p.plans.map(_.planningMs.toDouble).sum, "ms"),
      "plans.actions" -> (p.plans.size.toDouble, "count"),
      "plans.exchanges" -> (p.plans.map(_.exchanges.toDouble).sum, "count"),
      "stages.jobs" -> (p.jobs.size.toDouble, "count"),
      "stages.count" -> (st.size.toDouble, "count"),
      "stages.tasks" -> (st.map(_.tasks.toDouble).sum, "count"),
      "stages.wall_ms" -> (stageWall, "ms"),
      "stages.task_run_ms" -> (runMs, "ms"),
      "stages.task_cpu_ms" -> (st.map(_.cpuNs / 1e6).sum, "ms"),
      "stages.gc_ms" -> (st.map(_.gcMs.toDouble).sum, "ms"),
      "stages.max_task_ms" -> (if (st.isEmpty) 0.0 else st.map(_.maxTaskMs.toDouble).max, "ms"),
      "stages.core_idle_frac" -> (if (busy > 0) 1 - runMs / (cores * busy) else 0.0, "ratio"),
      "stages.sched_gap_ms" -> (gap, "ms"),
      "stages.shuffle_write_bytes" -> (st.map(_.shuffleWrite.toDouble).sum, "bytes"),
      "stages.shuffle_read_bytes" -> (st.map(_.shuffleRead.toDouble).sum, "bytes"),
      "stages.spill_bytes" -> (st.map(_.spill.toDouble).sum, "bytes"),
      "sources.scan_bytes" -> (st.map(_.inBytes.toDouble).sum, "bytes"),
      "sources.scan_rows" -> (st.map(_.inRows.toDouble).sum, "count"),
      "sources.write_bytes" -> (st.map(_.outBytes.toDouble).sum, "bytes"),
      "sources.append_ms" -> (ms(spansOf("sources", "append")), "ms"),
      "sources.merge_ms" -> (ms(spansOf("sources", "merge")), "ms"),
      "sources.read_ms" -> (ms(spansOf("sources", "lookup")), "ms"),
      "sources.changes_ms" -> (ms(spansOf("sources", "changes")), "ms"),
      "sources.jobs_per_commit" -> (if (commits.isEmpty) 0.0 else jobsIn(commits).size.toDouble / commits.size, "count"),
      "sources.write_amp" -> (if (live > 0) ex.getOrElse("data_bytes", 0.0) / live else 0.0, "ratio"),
      "sources.manifest_bytes" -> (ex.getOrElse("manifest_bytes", 0.0), "bytes"),
      "sources.live_files" -> (ex.getOrElse("live_files", 0.0), "count"),
      "scratch.bytes_written" -> (p.scratchBytes.toDouble, "bytes"),
      "pipelines.write_ms" -> (jobMs(writes), "ms"),
      "pipelines.recount_ms" -> (jobMs(recounts), "ms"),
      "pipelines.rows_in" -> (ex.getOrElse("ingested", 0.0), "count"),
      "pipelines.rows_out" -> (ex.getOrElse("written", 0.0), "count"))
  }
}
