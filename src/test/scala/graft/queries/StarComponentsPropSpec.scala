package graft.queries

import org.scalacheck.{Gen, Prop, Test}
import org.apache.spark.sql.functions._
import graft.{SparkSpec, TempDirs}

/** The large-star/small-star loop against a driver-side union-find:
  * fixed shapes, small random graphs (duplicates, both orientations and
  * self-loops included), a path that needs more than twelve rounds, and
  * the round cap. */
class StarComponentsPropSpec extends SparkSpec with TempDirs {

  /** Labels of nodes 0 until n; the edges go through parquet, so the loop
    * starts from a file scan as the registry query does. */
  private def components(n: Int, edges: Seq[(Long, Long)],
      maxRounds: Option[Int] = None): Map[Long, Long] = {
    import spark.implicits._
    val path = tempDir("graft_cc") + "/edges"
    edges.toDF("a", "b").write.parquet(path)
    GraphQueries.starComponents(spark.range(n).select(col("id").as("vec_id")),
        spark.read.parquet(path), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Each node's smallest connected id, by union-find. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(v => v.toLong -> find(v).toLong).toMap
  }

  private def agrees(n: Int, edges: Seq[(Long, Long)]): Boolean =
    components(n, edges) == unionFind(n, edges)

  private def path(ids: Seq[Long]): Seq[(Long, Long)] = ids.zip(ids.tail)

  test("path, star, ladder, isolated nodes and no edges match union-find") {
    // a path whose ids run downhill from one end
    assert(agrees(9, path(Seq(8L, 3L, 6L, 1L, 7L, 2L, 5L, 0L, 4L))))
    // a star whose centre is not the smallest id
    assert(agrees(7, (0L to 6L).filter(_ != 4L).map(4L -> _)))
    // a 2 x 5 ladder: rails 0..4 and 5..9, rungs i -- i+5
    assert(agrees(10, path(0L to 4L) ++ path(5L to 9L) ++
      (0L to 4L).map(i => i -> (i + 5))))
    // two components and three nodes with no edge at all
    assert(agrees(8, Seq(5L -> 6L, 6L -> 7L, 1L -> 2L)))
    assert(components(4, Nil) == (0L until 4L).map(v => v -> v).toMap)
  }

  test("small random graphs match union-find") {
    val graph = for {
      n <- Gen.chooseNum(1, 12)
      m <- Gen.chooseNum(0, 14)
      es <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n - 1L),
        Gen.chooseNum(0L, n - 1L)))
    } yield (n, es)
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(4),
      Prop.forAll(graph) { case (n, es) => agrees(n, es) })
    assert(r.passed, r.status)
  }

  test("a 6000-node path with sequential ids needs more than 12 rounds") {
    val n = 6000
    val got = components(n, path(0L until n.toLong))
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), got.count(_._2 != 0L))
  }

  test("a graph that misses the round cap throws, naming the round") {
    val e = intercept[IllegalStateException](
      components(6, path(0L to 5L), maxRounds = Some(1)))
    assert(e.getMessage.contains("after round 1"), e.getMessage)
  }
}
