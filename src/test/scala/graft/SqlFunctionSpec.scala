package graft

/** The native kernel exposed on the SQL surface. */
class SqlFunctionSpec extends SparkSpec {

  test("cosine_similarity callable from spark.sql after registration") {
    Tables.embeddings(spark, sfDir).limit(50)
      .createOrReplaceTempView("emb_v")
    val rows = spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |       cosine_similarity(a.embedding, b.embedding) AS cos
        |FROM emb_v a JOIN emb_v b ON a.vec_id < b.vec_id""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val c = r.getDouble(2); c >= -1.0000001 && c <= 1.0000001
    })
    // self-similarity is exactly 1 (up to widening) via SQL too
    val self = spark.sql(
      "SELECT cosine_similarity(embedding, embedding) FROM emb_v")
      .collect()
    assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("chunk_spans callable from spark.sql as a generator") {
    Tables.documents(spark, sfDir).limit(20)
      .createOrReplaceTempView("docs_v")
    val viaSql = spark.sql(
      """SELECT doc_id, chunk_idx, chunk
        |FROM docs_v LATERAL VIEW chunk_spans(text, 256, 156) AS chunk_idx, chunk""".stripMargin)
    val declarative = queries.VectorQueries.chunks(spark, sfDir)
      .join(Tables.documents(spark, sfDir).limit(20).select("doc_id"), "doc_id")
      .select("doc_id", "chunk_idx", "chunk")
    assert(viaSql.exceptAll(declarative).count() === 0)
    assert(declarative.exceptAll(viaSql).count() === 0)
  }
}
