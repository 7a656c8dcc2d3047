package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration surface for the engine's native Catalyst expressions —
  * both imperative (per-session, idempotent) and declarative via
  * `SparkSessionExtensions` for
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  val VecDotName = "graft_vec_dot"
  val VecDist2Name = "graft_vec_dist2"
  val TopKName = "graft_topk"
  val NormalizeLocationName = "normalize_location"
  val Hash60Name = "graft_hash60"
  val Hash64Name = "graft_hash64"
  val FreqItemsName = "graft_freq_items"
  val BloomAggName = "graft_bloom_agg"
  val BloomContainsName = "graft_bloom_contains"
  val HllAggName = "graft_hll_agg"
  val HllUnionAggName = "graft_hll_union_agg"
  val HllMergeName = "graft_hll_merge"
  val HllEstName = "graft_hll_est"
  val HllZerosName = "graft_hll_zeros"
  val CmsAggName = "graft_cms_agg"
  val CmsUnionAggName = "graft_cms_union_agg"
  val CmsMergeName = "graft_cms_merge"
  val CmsQueryName = "graft_cms_query"
  val ApproxQuantileName = "graft_approx_quantile"
  val ExactPercentileName = "graft_exact_percentile"
  val ExactDistinctName = "graft_exact_distinct"

  private val vecDotInfo = new ExpressionInfo(
    classOf[FloatVecDot].getName, VecDotName)
  private val vecDist2Info = new ExpressionInfo(
    classOf[FloatVecDist2].getName, VecDist2Name)
  private val normLocInfo = new ExpressionInfo(
    classOf[NormalizeLocation].getName, NormalizeLocationName)

  private def vecDotBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$VecDotName expects exactly 2 arguments")
    FloatVecDot(args.head, args(1))
  }

  private def vecDist2Builder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$VecDist2Name expects exactly 2 arguments")
    FloatVecDist2(args.head, args(1))
  }

  private val topKInfo = new ExpressionInfo(classOf[TopKAgg].getName, TopKName)
  private def topKBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, s"$TopKName expects (score, id, k)")
    TopKAgg(args(0), args(1), args(2))
  }

  private def normLocBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 4, s"$NormalizeLocationName expects exactly 4 arguments")
    NormalizeLocation(args(0), args(1), args(2), args(3))
  }

  private val hash60Info = new ExpressionInfo(
    classOf[Hash60].getName, Hash60Name)
  private def hash60Builder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$Hash60Name expects exactly 1 argument")
    Hash60(args.head)
  }

  private val hash64Info = new ExpressionInfo(
    classOf[Hash64].getName, Hash64Name)
  private def hash64Builder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$Hash64Name expects exactly 1 argument")
    Hash64(args.head)
  }

  private val freqItemsInfo = new ExpressionInfo(
    classOf[FreqItemsAgg].getName, FreqItemsName)
  private def freqItemsBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$FreqItemsName expects (item, capacity)")
    FreqItemsAgg(args(0), args(1))
  }

  private val approxQuantileInfo = new ExpressionInfo(
    classOf[ApproxQuantileAgg].getName, ApproxQuantileName)
  private def approxQuantileBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3,
      s"$ApproxQuantileName expects (value, percentage, k)")
    ApproxQuantileAgg(args(0), args(1), args(2))
  }

  private val exactPercentileInfo = new ExpressionInfo(
    classOf[ExactPercentileAgg].getName, ExactPercentileName)
  private def exactPercentileBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"$ExactPercentileName expects (value, percentage)")
    ExactPercentileAgg(args(0), args(1))
  }

  private val exactDistinctInfo = new ExpressionInfo(
    classOf[ExactDistinctAgg].getName, ExactDistinctName)
  private def exactDistinctBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$ExactDistinctName expects (key)")
    ExactDistinctAgg(args(0))
  }

  private val bloomAggInfo = new ExpressionInfo(
    classOf[BloomAgg].getName, BloomAggName)
  private def bloomAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3,
      s"$BloomAggName expects (key, numBits, numHashes)")
    BloomAgg(args(0), args(1), args(2))
  }

  private val bloomContainsInfo = new ExpressionInfo(
    classOf[BloomContains].getName, BloomContainsName)
  private def bloomContainsBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$BloomContainsName expects (filter, key)")
    BloomContains(args(0), args(1))
  }

  private val hllAggInfo = new ExpressionInfo(
    classOf[HllAgg].getName, HllAggName)
  private def hllAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$HllAggName expects (key, p)")
    HllAgg(args(0), args(1))
  }

  private val hllUnionAggInfo = new ExpressionInfo(
    classOf[HllUnionAgg].getName, HllUnionAggName)
  private def hllUnionAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$HllUnionAggName expects (sketch)")
    HllUnionAgg(args(0))
  }

  private val hllMergeInfo = new ExpressionInfo(
    classOf[HllMerge].getName, HllMergeName)
  private def hllMergeBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$HllMergeName expects (a, b)")
    HllMerge(args(0), args(1))
  }

  private val hllEstInfo = new ExpressionInfo(
    classOf[HllEst].getName, HllEstName)
  private def hllEstBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$HllEstName expects (sketch)")
    HllEst(args(0))
  }

  private val hllZerosInfo = new ExpressionInfo(
    classOf[HllZeros].getName, HllZerosName)
  private def hllZerosBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$HllZerosName expects (sketch)")
    HllZeros(args(0))
  }

  private val cmsAggInfo = new ExpressionInfo(
    classOf[CountMinAgg].getName, CmsAggName)
  private def cmsAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 3, s"$CmsAggName expects (key, width, depth)")
    CountMinAgg(args(0), args(1), args(2))
  }

  private val cmsUnionAggInfo = new ExpressionInfo(
    classOf[CmsUnionAgg].getName, CmsUnionAggName)
  private def cmsUnionAggBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$CmsUnionAggName expects (sketch)")
    CmsUnionAgg(args(0))
  }

  private val cmsMergeInfo = new ExpressionInfo(
    classOf[CmsMerge].getName, CmsMergeName)
  private def cmsMergeBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$CmsMergeName expects (a, b)")
    CmsMerge(args(0), args(1))
  }

  private val cmsQueryInfo = new ExpressionInfo(
    classOf[CmsQuery].getName, CmsQueryName)
  private def cmsQueryBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$CmsQueryName expects (sketch, key)")
    CmsQuery(args(0), args(1))
  }

  private val allFunctions = Seq(
    (FunctionIdentifier(VecDotName), vecDotInfo, vecDotBuilder _),
    (FunctionIdentifier(VecDist2Name), vecDist2Info, vecDist2Builder _),
    (FunctionIdentifier(TopKName), topKInfo, topKBuilder _),
    (FunctionIdentifier(NormalizeLocationName), normLocInfo, normLocBuilder _),
    (FunctionIdentifier(Hash60Name), hash60Info, hash60Builder _),
    (FunctionIdentifier(Hash64Name), hash64Info, hash64Builder _),
    (FunctionIdentifier(FreqItemsName), freqItemsInfo, freqItemsBuilder _),
    (FunctionIdentifier(ApproxQuantileName), approxQuantileInfo,
      approxQuantileBuilder _),
    (FunctionIdentifier(ExactPercentileName), exactPercentileInfo,
      exactPercentileBuilder _),
    (FunctionIdentifier(ExactDistinctName), exactDistinctInfo,
      exactDistinctBuilder _),
    (FunctionIdentifier(BloomAggName), bloomAggInfo, bloomAggBuilder _),
    (FunctionIdentifier(BloomContainsName), bloomContainsInfo,
      bloomContainsBuilder _),
    (FunctionIdentifier(HllAggName), hllAggInfo, hllAggBuilder _),
    (FunctionIdentifier(HllUnionAggName), hllUnionAggInfo,
      hllUnionAggBuilder _),
    (FunctionIdentifier(HllMergeName), hllMergeInfo, hllMergeBuilder _),
    (FunctionIdentifier(HllEstName), hllEstInfo, hllEstBuilder _),
    (FunctionIdentifier(HllZerosName), hllZerosInfo, hllZerosBuilder _),
    (FunctionIdentifier(CmsAggName), cmsAggInfo, cmsAggBuilder _),
    (FunctionIdentifier(CmsUnionAggName), cmsUnionAggInfo,
      cmsUnionAggBuilder _),
    (FunctionIdentifier(CmsMergeName), cmsMergeInfo, cmsMergeBuilder _),
    (FunctionIdentifier(CmsQueryName), cmsQueryInfo, cmsQueryBuilder _))

  /** Idempotent per-session registration (the analyzer resolves
    * `call_function` names through the session's FunctionRegistry).
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    allFunctions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) {
        registry.registerFunction(id, info, builder)
      }
    }
  }

  /** Hook for [[GraftExtensions]]. */
  private[functions] def inject(ext: SparkSessionExtensions): Unit =
    allFunctions.foreach(ext.injectFunction)
}

/** `spark.sql.extensions` entry point: registers the engine's native
  * functions at session build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
