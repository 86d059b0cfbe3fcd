package graft.queries

import org.scalacheck.{Gen, Prop, Test}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Property laws of the Lloyd assignment step over small random point
  * and centroid sets: one row per point carrying its brute-force nearest
  * centroid (ties to the lowest id), and zero rows when there are no
  * centroids at all. */
class LloydAssignPropSpec extends SparkSpec {

  private val vec: Gen[Seq[Long]] = Gen.listOfN(3, Gen.chooseNum(-20L, 20L))
  private def rows(n: Int): Gen[Seq[(Long, Seq[Long])]] =
    Gen.listOfN(n, vec).map(_.zipWithIndex.map { case (v, i) => (i.toLong, v) })
  private val points = Gen.chooseNum(0, 6).flatMap(rows)

  private def frame(rs: Seq[(Long, Seq[Long])], id: String,
      v: String): DataFrame = {
    import spark.implicits._
    rs.toDF(id, v)
  }

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(8), p)
    assert(r.passed, r.status)
  }

  test("an empty centroid frame assigns no rows") {
    check(Prop.forAll(points) { ps =>
      Vector2Queries.assign(frame(ps, "vec_id", "qe"),
        frame(Nil, "cid", "cvec")).count() == 0
    })
  }

  test("each point gets its nearest centroid, ties to the lowest id") {
    check(Prop.forAll(points, Gen.chooseNum(1, 4).flatMap(rows)) { (ps, cs) =>
      def d(a: Seq[Long], b: Seq[Long]) =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val want = ps.map { case (id, v) =>
        val (dist, cid) = cs.map { case (c, cv) => (d(v, cv), c) }.min
        (id, cid, dist)
      }.toSet
      val got = Vector2Queries.assign(frame(ps, "vec_id", "qe"),
          frame(cs, "cid", "cvec"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      got.length == ps.size && got.toSet == want
    })
  }
}
