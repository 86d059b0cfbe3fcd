package graft

import org.apache.spark.sql.SparkSession

/** The one definition of the Spark session the engine deploys. Every
  * entry point (`Bench`, `Verify`, `Profile`, `Explain`, the probes),
  * the shared test session and the child test JVMs build it here, so a
  * plan law, a profile or an `Explain` plan describes the plan the
  * driver runs.
  *
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC session time zone; old events fixtures carry
  *    TIMESTAMP(NANOS) parquet, read as long session-wide so no reader
  *    ever mutates a live session conf (see `Tables.events`);
  *  - no UI; log level ERROR, since the driver parses `Bench`'s one
  *    JSON line from the last ~2000 characters of output and a warning
  *    flood after it pushes it out of that window;
  *  - [[graft.functions.GraftExtensions]] (SQL functions, the kernel
  *    rewrites, the as-of-join strategy, SQL DML and the maintenance
  *    grammar) and [[graft.sources.v2.GraftCatalog]] as `graft`.
  *
  * Catalyst's rules and strategies are injected per session, and
  * `spark.sql.extensions` is static: `getOrCreate` handing back a
  * session built elsewhere without the extension would run different
  * plans, so that throws. */
object GraftSession {
  private val Extensions = "graft.functions.GraftExtensions"

  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4: the entry points'
    * setting. */
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", Extensions)
      .config("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
      .getOrCreate()
    // the extension's functions exist only if it loaded: the conf alone
    // can name it on a session built over a SparkContext that did not
    if (!s.catalog.functionExists("cosine_similarity"))
      throw new IllegalStateException(
        s"getOrCreate returned a Spark session without $Extensions")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
