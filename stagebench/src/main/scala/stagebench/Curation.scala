package stagebench

import graft.Corpus

/** DuckDB oracle for `CurationPipeline.run` over the same `documents`
  * table, composed from the engine's own oracle fragments: the
  * dup-injected corpus ([[Corpus.cte]]), the winnow fingerprint / pair
  * SQL of `winnow_overlap_pairs` (run on the exact-deduped corpus, as
  * the pipeline does), the exact-percentile bounds (Spark's
  * interpolation, term for term, so the ceil/floor cut-offs agree
  * bit-for-bit), the k-anonymity class gate and the md5 split. */
object CurationOracle {
  private val P = 2147483647L

  private val stages: String =
    s"""WITH corpus AS (${Corpus.cte}),
      |deduped AS MATERIALIZED (SELECT * FROM corpus
      |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))),
      |pos AS (
      |  SELECT doc_id, text, (i.i + 1)::INT AS pos,
      |         length(text) - 7 AS npos
      |  FROM deduped, (SELECT range AS i FROM range(0, 4096)) i
      |  WHERE length(text) >= 11 AND i.i < length(text) - 7),
      |h AS (SELECT doc_id, pos, npos,
      |        (('0x' || substr(md5(substr(text, pos, 8)), 1, 8))::BIGINT
      |          % $P) AS h
      |      FROM pos),
      |fps AS (SELECT DISTINCT doc_id,
      |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |        FROM h
      |        QUALIFY pos <= npos - 3),
      |ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64),
      |capped AS (SELECT doc_id, fp FROM fps JOIN ok USING (fp)),
      |sizes AS (SELECT doc_id, count(*)::BIGINT AS nf
      |          FROM capped GROUP BY doc_id),
      |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b,
      |            count(*)::BIGINT AS n_shared
      |          FROM capped x JOIN capped y
      |            ON x.fp = y.fp AND x.doc_id < y.doc_id
      |          GROUP BY 1, 2),
      |losers AS (SELECT DISTINCT b AS doc_id
      |  FROM pairs JOIN sizes sa ON pairs.a = sa.doc_id
      |             JOIN sizes sb ON pairs.b = sb.doc_id
      |  WHERE n_shared * 2 >= least(sa.nf, sb.nf)),
      |near AS MATERIALIZED (SELECT * FROM deduped
      |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
      |tok AS (SELECT doc_id, text, lang, source,
      |          length(text)::BIGINT AS n_chars,
      |          len(string_split(text, ' ')) AS ntok
      |        FROM near),
      |gated AS MATERIALIZED (SELECT doc_id, text, lang, source, n_chars
      |  FROM tok
      |  WHERE lang IN ('en', 'de', 'fr', 'es', 'zh')
      |    AND ntok >= 10 AND ntok <= 2048
      |    AND n_chars >= ntok * 3 AND n_chars <= ntok * 13),
      |ranked AS (SELECT n_chars,
      |  row_number() OVER (ORDER BY n_chars) - 1 AS r FROM gated),
      |q AS (SELECT p, m * p AS pos, floor(m * p)::BIGINT AS lo,
      |        ceil(m * p)::BIGINT AS hi
      |      FROM (SELECT count(*)::DOUBLE - 1 AS m FROM gated),
      |           (VALUES (0.05::DOUBLE), (0.95::DOUBLE)) v(p)),
      |qv AS (SELECT q.p, CASE WHEN a.n_chars = b.n_chars
      |          THEN a.n_chars::DOUBLE
      |          ELSE (q.hi - q.pos) * a.n_chars + (q.pos - q.lo) * b.n_chars
      |        END AS v
      |      FROM q JOIN ranked a ON a.r = q.lo JOIN ranked b ON b.r = q.hi),
      |inrange AS (SELECT g.* FROM gated g,
      |  (SELECT max(v) FILTER (WHERE p = 0.05) AS p05,
      |          max(v) FILTER (WHERE p = 0.95) AS p95 FROM qv) bnd
      |  WHERE g.n_chars >= ceil(bnd.p05) AND g.n_chars <= floor(bnd.p95)),
      |okc AS (SELECT lang, n_chars // 100 AS kb FROM inrange
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |released AS MATERIALIZED (SELECT r.* FROM inrange r
      |  JOIN okc ON r.lang = okc.lang AND r.n_chars // 100 = okc.kb)""".stripMargin

  /** The rows the pipeline writes, with the `split` partition column. */
  val rows: String =
    s"""$stages
      |SELECT doc_id, text, lang, source, n_chars,
      |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT *, (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
      |        % 100) AS b FROM released)""".stripMargin

  /** The stage counts of `CurationPipeline.Result`, one row. */
  val counts: String =
    s"""$stages
      |SELECT (SELECT count(*) FROM corpus) AS ingested,
      |  (SELECT count(*) FROM deduped) AS after_dedup,
      |  (SELECT count(*) FROM near) AS after_near_dup,
      |  (SELECT count(*) FROM gated) AS after_quality,
      |  (SELECT count(*) FROM released) AS after_k_anon,
      |  (SELECT count(*) FROM released) AS written""".stripMargin
}
