package graft

/** Micro-profiler: runs each named query N times, printing per-iteration
  * seconds — separates one-time codegen/compile cost from steady state.
  * Usage: runMain graft.Profile <sfDir> <reps> <query ...> */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession()
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    // SPARK_GRAFT_PHASES=1: per-rep attribution — DataFrame build
    // (driver-side fn() incl. parquet schema resolution), Catalyst
    // phases (analysis/optimization/planning from the
    // QueryPlanningTracker), and job execution — separating fixed
    // per-query session overhead from data work for the tail audit.
    val phases = sys.env.get("SPARK_GRAFT_PHASES").contains("1")
    names.foreach { n =>
      val q = byName(n)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        if (phases) {
          val df = q.fn(spark, sfDir)
          val t1 = System.nanoTime()
          val qe = df.queryExecution
          val rdd = qe.toRdd // forces analysis/optimization/planning
          val t2 = System.nanoTime()
          rdd.count()
          val t3 = System.nanoTime()
          val ph = qe.tracker.phases
            .map { case (k, v) => f"$k=${v.durationMs}%dms" }
            .mkString(" ")
          println(f"$n%-28s build=${(t1 - t0) / 1e6}%.0fms " +
            f"plan=${(t2 - t1) / 1e6}%.0fms exec=${(t3 - t2) / 1e6}%.0fms " +
            f"[$ph]")
        } else q.fn(spark, sfDir).queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        sec
      }
      println(f"$n%-28s ${times.map(t => f"$t%7.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
