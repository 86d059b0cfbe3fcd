package graft

import org.apache.spark.sql.functions._
import graft.functions.MinHashKernel
import graft.functions.MinHashKernel.{minhashSig, shingleHashes, sortedIntersect}

/** Native MinHash kernels: bit-parity against the declarative
  * explode/distinct/agg formulation, merge-intersection laws, SQL
  * surface, and the scan-local plan shape. */
class MinHashKernelSpec extends SparkSpec {

  private val P = MinHashKernel.P

  /** The declarative shingle pipeline the kernel replaced (same shape
    * as DedupQueries.shingles, kept here as the independent reference). */
  private def declarativeShingles = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val t1 = slice(toks, lit(1), n - 2)
    val t2 = slice(toks, lit(2), n - 2)
    val t3 = slice(toks, lit(3), n - 2)
    Tables.documents(spark, sfDir)
      .filter(n >= 3)
      .select(col("doc_id"),
        explode(zip_with(zip_with(t1, t2, (a, b) => concat(a, lit(" "), b)),
          t3, (ab, cc) => concat(ab, lit(" "), cc))).as("shingle"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long"),
          lit(P)).as("sh"))
      .distinct()
  }

  test("shingle_hashes equals the declarative explode/distinct pipeline") {
    val native = Tables.documents(spark, sfDir)
      .select(col("doc_id"), shingleHashes(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val decl = declarativeShingles.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).sorted.toSeq) }
    assert(native.keySet === decl.keySet)
    native.foreach { case (id, shs) =>
      assert(shs === decl(id), s"doc $id")
      assert(shs === shs.sorted, s"doc $id not sorted")
      assert(shs.distinct.length === shs.length, s"doc $id not distinct")
    }
  }

  test("minhash_sig equals the declarative per-slot min aggregation") {
    val native = Tables.documents(spark, sfDir)
      .select(col("doc_id"), minhashSig(shingleHashes(col("text"))).as("mh"))
      .filter(size(col("mh")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ab = MinHashKernel.AB
    val decl = declarativeShingles.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, xs) =>
        val hs = xs.map(_._2)
        (id, (0 until MinHashKernel.NumHashes).map { k =>
          hs.map(h => (ab(k)._1 * h + ab(k)._2) % P).min
        })
      }
    assert(native.keySet === decl.keySet)
    native.foreach { case (id, mh) =>
      assert(mh.toIndexedSeq === decl(id), s"doc $id")
    }
  }

  test("sorted_intersect: merge count equals set intersection; laws") {
    val sets = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 40)
      .select(col("doc_id"), shingleHashes(col("text")).as("shs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val pairs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
      .select(col("doc_id").as("a"), shingleHashes(col("text")).as("sa"))
      .crossJoin(Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
        .select(col("doc_id").as("b"), shingleHashes(col("text")).as("sb")))
      .select(col("a"), col("b"), sortedIntersect(col("sa"), col("sb")).as("ni"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val bySet = sets.toMap
    for ((a, sa) <- sets; (b, sb) <- sets) {
      assert(pairs((a, b)) === sa.toSet.intersect(sb.toSet).size.toLong,
        s"pair ($a,$b)")
    }
    // self-intersection is the set size
    sets.foreach { case (a, sa) =>
      assert(pairs((a, a)) === sa.length.toLong)
    }
    assert(bySet.nonEmpty)
  }

  test("degenerate inputs: short docs and empty sets") {
    import spark.implicits._
    val out = Seq("", "one", "one two", "a b c", "a  b c")
      .toDF("text")
      .select(shingleHashes(col("text")).as("shs"))
      .select(col("shs"), minhashSig(col("shs")).as("mh"))
      .collect()
    assert(out(0).getSeq[Long](0).isEmpty) // "" -> 1 token
    assert(out(1).getSeq[Long](0).isEmpty)
    assert(out(2).getSeq[Long](0).isEmpty)
    assert(out(3).getSeq[Long](0).length === 1) // exactly one shingle
    assert(out(3).getSeq[Long](1).length === MinHashKernel.NumHashes)
    // split(" ") keeps empty tokens: "a  b c" has 4 tokens, 2 shingles
    assert(out(4).getSeq[Long](0).length === 2)
    assert(out(0).getSeq[Long](1).isEmpty) // empty set -> empty signature
  }

  test("SQL surface: shingle_hashes/minhash_sig/sorted_intersect registered") {
    val r = spark.sql(
      """SELECT sorted_intersect(shingle_hashes('a b c d'),
        |                        shingle_hashes('a b c e')) AS ni,
        |       size(minhash_sig(shingle_hashes('a b c d'))) AS k
        |""".stripMargin).head()
    assert(r.getLong(0) === 1L) // shared shingle "a b c"
    assert(r.getInt(1) === MinHashKernel.NumHashes)
  }

  test("plan law: the signature projection is scan-local (no exchange)") {
    val plan = Tables.documents(spark, sfDir)
      .select(col("doc_id"), minhashSig(shingleHashes(col("text"))).as("mh"))
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), s"signature pass shuffles:\n$plan")
  }
}
