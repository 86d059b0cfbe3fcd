package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The shared test session is the deployed one, [[GraftSession]] at 4
  * cores: the extension's rewrites, strategies and SQL surface and the
  * `graft` catalog are live in every spec, so a plan a spec checks is
  * the plan `Bench` and `Verify` run. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the session confs `pairs` set, then restores each
    * to its prior value, unsetting those that were not set before. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally pairs.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** Sets the mtime of every file under `dir` (hidden ones included)
    * one minute back, so a `vacuum(..., retainMs = 0L)` right after the
    * writes sees them past its age horizon without waiting on the
    * clock. */
  def ageFiles(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val past = System.currentTimeMillis() - 60000L
    val it = fs.listFiles(p, true)
    while (it.hasNext) fs.setTimes(it.next().getPath, past, -1L)
  }

  /** The expressions anywhere in `df`'s optimized plan that `pf`
    * matches. */
  def optimizedExprs[T](df: DataFrame)(
      pf: PartialFunction[Expression, T]): Seq[T] =
    df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect(pf)))
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)

  /** Rules listed here are left out of the optimizer: how a spec plans
    * an un-rewritten reference on the extension session. */
  val ExcludedRules: String = SQLConf.OPTIMIZER_EXCLUDED_RULES.key

  /** The state store the transformWithState operators require. */
  val RocksDb: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
