package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{AcScan, BpeMerge, CaseMap, CharEntropy, CmsSketch,
  CosineSimilarity, DotFF, DotI64, GopherRepetition, GraftFunctions,
  HllMerge, HllSketch, JaccardSorted, KmvSketch, MinHashAffine, MinHashSig,
  PartitionCounters, RepetitionProfile, ScriptProfile, SimHash64, SrpSigs,
  TopKRankAgg, WinnowFps, WordShingles}

/** Catalyst extension point: register the engine's native expressions at
  * session build time so plain SQL can use them —
  *
  *   spark.sql.extensions=graft.spark.GraftExtensions
  *   SELECT simhash64(text), cosine_ff(a.embedding, b.embedding) ...
  *
  * (The Column-level wrappers in graft.functions.GraftFunctions self-register
  * lazily for programmatic use; this class is the spark-submit path.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, clazz: Class[_],
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        builder
      ))
    import GraftFunctions.intLit
    inject("simhash64", classOf[SimHash64], exprs => SimHash64(exprs.head))
    inject("cosine_ff", classOf[CosineSimilarity],
      exprs => CosineSimilarity(exprs(0), exprs(1)))
    inject("word_shingles", classOf[WordShingles],
      exprs => WordShingles(exprs(0), intLit(exprs(1))))
    inject("jaccard_sorted", classOf[JaccardSorted],
      exprs => JaccardSorted(exprs(0), exprs(1)))
    inject("minhash_sig", classOf[MinHashSig],
      exprs => MinHashSig(exprs(0), intLit(exprs(1))))
    inject("minhash_affine", classOf[MinHashAffine],
      exprs => MinHashAffine(exprs(0), intLit(exprs(1))))
    inject("srp_sigs", classOf[SrpSigs],
      exprs => SrpSigs(exprs(0), intLit(exprs(1)), intLit(exprs(2))))
    inject("cms_sketch", classOf[CmsSketch],
      exprs => CmsSketch(exprs(0), intLit(exprs(1)), intLit(exprs(2)))
        .toAggregateExpression())
    inject("kmv_sketch", classOf[KmvSketch],
      exprs => KmvSketch(exprs(0), intLit(exprs(1))).toAggregateExpression())
    inject("hll_sketch", classOf[HllSketch],
      exprs => HllSketch(exprs(0), intLit(exprs(1))).toAggregateExpression())
    inject("hll_merge", classOf[HllMerge],
      exprs => HllMerge(exprs(0), intLit(exprs(1))).toAggregateExpression())
    inject("graft_lower", classOf[CaseMap], exprs => CaseMap(exprs.head, upper = false))
    inject("graft_upper", classOf[CaseMap], exprs => CaseMap(exprs.head, upper = true))
    inject("partition_counters", classOf[PartitionCounters],
      exprs => PartitionCounters(exprs.head, exprs.tail).toAggregateExpression())
    inject("top_k_rank", classOf[TopKRankAgg],
      exprs => TopKRankAgg(exprs(0), exprs(1), intLit(exprs(2)))
        .toAggregateExpression())
    inject("repetition_profile", classOf[RepetitionProfile],
      exprs => RepetitionProfile(exprs.head))
    inject("char_entropy", classOf[CharEntropy],
      exprs => CharEntropy(exprs.head))
    inject("script_profile", classOf[ScriptProfile],
      exprs => ScriptProfile(exprs.head))
    inject("dot_i64", classOf[DotI64], exprs => DotI64(exprs(0), exprs(1)))
    inject("dot_ff", classOf[DotFF], exprs => DotFF(exprs(0), exprs(1)))
    inject("gopher_repetition", classOf[GopherRepetition],
      exprs => GopherRepetition(exprs(0), exprs(1)))
    inject("winnow_fps", classOf[WinnowFps],
      exprs => WinnowFps(exprs(0), intLit(exprs(1)), intLit(exprs(2))))
    inject("bpe_merge", classOf[BpeMerge],
      exprs => BpeMerge(exprs(0), exprs(1), exprs(2)))
    inject("ac_scan", classOf[AcScan],
      exprs => AcScan(exprs(0),
        GraftFunctions.splitPhrases(GraftFunctions.strLit(exprs(1)))))
  }
}
