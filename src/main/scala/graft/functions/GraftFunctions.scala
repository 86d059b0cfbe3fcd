package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the engine's native expressions, so
  * `spark.sql("SELECT cosine_similarity(a, b) ...")` works like a
  * built-in. [[GraftExtensions]] injects them
  * (SparkSessionExtensions.injectFunction) into every session
  * `graft.GraftSession` builds.
  */
object GraftFunctions {

  private val cosineBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"cosine_similarity expects 2 arguments, got ${args.length}")
    CosineSimilarity(args(0), args(1))
  }

  private val cosineInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getCanonicalName, "cosine_similarity")

  private val chunkSpansBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      s"chunk_spans expects (text, size, stride), got ${args.length} args")
    def intArg(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"chunk_spans $what must be an integer literal, got $other")
    }
    ChunkSpans(args(0), intArg(args(1), "size"), intArg(args(2), "stride"))
  }

  private val chunkSpansInfo = new ExpressionInfo(
    classOf[ChunkSpans].getCanonicalName, "chunk_spans")

  private val jaroWinklerBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"jaro_winkler expects 2 arguments, got ${args.length}")
    JaroWinklerSimilarity(args(0), args(1))
  }

  private val jaroWinklerInfo = new ExpressionInfo(
    classOf[JaroWinklerSimilarity].getCanonicalName, "jaro_winkler")

  private val topkLongsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"topk_longs expects (col, k), got ${args.length} args")
    val k = args(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"topk_longs k must be an integer literal, got $other")
    }
    TopKLongsAgg(args.head, k).toAggregateExpression()
  }

  private val topkLongsInfo = new ExpressionInfo(
    classOf[TopKLongsAgg].getCanonicalName, "topk_longs")

  private val winnowFpsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1 || args.length == 3,
      s"winnow_fps expects (text) or (text, k, w), got ${args.length} args")
    def intArg(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"winnow_fps $what must be an integer literal, got $other")
    }
    if (args.length == 1) WinnowFps(args.head, 8, 4)
    else WinnowFps(args.head, intArg(args(1), "k"), intArg(args(2), "w"))
  }

  private val winnowFpsInfo = new ExpressionInfo(
    classOf[WinnowFps].getCanonicalName, "winnow_fps")

  private val lcsTokensBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"lcs_tokens expects 2 arguments, got ${args.length}")
    LcsTokens(args(0), args(1))
  }

  private val lcsTokensInfo = new ExpressionInfo(
    classOf[LcsTokens].getCanonicalName, "lcs_tokens")

  private val smithWatermanBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"smith_waterman expects 2 arguments, got ${args.length}")
    SmithWatermanTokens(args(0), args(1))
  }

  private val smithWatermanInfo = new ExpressionInfo(
    classOf[SmithWatermanTokens].getCanonicalName, "smith_waterman")

  private val tokenCountBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"token_count expects 1 argument, got ${args.length}")
    TokenCountWs(args.head)
  }

  private val tokenCountInfo = new ExpressionInfo(
    classOf[TokenCountWs].getCanonicalName, "token_count")

  private val shingleHashesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"shingle_hashes expects 1 argument, got ${args.length}")
    ShingleHashes(args.head)
  }

  private val shingleHashesInfo = new ExpressionInfo(
    classOf[ShingleHashes].getCanonicalName, "shingle_hashes")

  private val minhashSigBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"minhash_sig expects 1 argument, got ${args.length}")
    MinHashSig(args.head)
  }

  private val minhashSigInfo = new ExpressionInfo(
    classOf[MinHashSig].getCanonicalName, "minhash_sig")

  private val sortedIntersectBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"sorted_intersect expects 2 arguments, got ${args.length}")
    SortedIntersect(args(0), args(1))
  }

  private val sortedIntersectInfo = new ExpressionInfo(
    classOf[SortedIntersect].getCanonicalName, "sorted_intersect")

  private val simhash60Builder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"simhash60 expects 1 argument, got ${args.length}")
    SimHash60(args.head)
  }

  private val simhash60Info = new ExpressionInfo(
    classOf[SimHash60].getCanonicalName, "simhash60")

  private val commonPrefixLenBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"common_prefix_len expects 2 arguments, got ${args.length}")
    CommonPrefixLen(args(0), args(1))
  }

  private val commonPrefixLenInfo = new ExpressionInfo(
    classOf[CommonPrefixLen].getCanonicalName, "common_prefix_len")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("cosine_similarity"), cosineInfo, cosineBuilder),
      (FunctionIdentifier("chunk_spans"), chunkSpansInfo, chunkSpansBuilder),
      (FunctionIdentifier("jaro_winkler"), jaroWinklerInfo, jaroWinklerBuilder),
      (FunctionIdentifier("topk_longs"), topkLongsInfo, topkLongsBuilder),
      (FunctionIdentifier("winnow_fps"), winnowFpsInfo, winnowFpsBuilder),
      (FunctionIdentifier("lcs_tokens"), lcsTokensInfo, lcsTokensBuilder),
      (FunctionIdentifier("smith_waterman"), smithWatermanInfo,
        smithWatermanBuilder),
      (FunctionIdentifier("token_count"), tokenCountInfo, tokenCountBuilder),
      (FunctionIdentifier("shingle_hashes"), shingleHashesInfo,
        shingleHashesBuilder),
      (FunctionIdentifier("minhash_sig"), minhashSigInfo, minhashSigBuilder),
      (FunctionIdentifier("sorted_intersect"), sortedIntersectInfo,
        sortedIntersectBuilder),
      (FunctionIdentifier("simhash60"), simhash60Info, simhash60Builder),
      (FunctionIdentifier("common_prefix_len"), commonPrefixLenInfo,
        commonPrefixLenBuilder))
}

/** `spark.sql.extensions` entry point: SQL function surface, the
  * HOF-cosine -> native-kernel rewrite (RewriteCosineHof), and the
  * as-of-join planner strategy (graft.plans.AsOfJoinStrategy). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteCosineHof)
    ext.injectOptimizerRule(_ => RewriteBoundedTopK)
    ext.injectOptimizerRule(_ => RewriteTokenCount)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL DML face of the versioned table FIRST (INSERT / UPDATE /
    // DELETE / MERGE convert into library-DML commands during
    // analysis — Delta's DeltaAnalysis construction), then the read
    // swap: GraftCatalog's v2 relation -> the connector's V1
    // HadoopFsRelation (see GraftSqlResolution), Delta's
    // catalog-to-v1 bridge.  Order matters: a DML target must still
    // be a v2 relation when GraftDmlRule fires (the swap also guards
    // against touching write targets itself).
    ext.injectResolutionRule(s => graft.sources.v2.GraftDmlRule(s))
    ext.injectResolutionRule(s => graft.sources.v2.GraftSqlResolution(s))
    // maintenance mini-grammar (DESCRIBE HISTORY/DETAIL, OPTIMIZE
    // [ZORDER BY], VACUUM [RETAIN n HOURS] [DRY RUN]) — Delta's
    // delegating-parser construction; ordinary SQL passes through
    ext.injectParser((s, delegate) =>
      new graft.sources.v2.GraftSqlParser(s, delegate))
  }
}
