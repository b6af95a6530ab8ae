package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunctionBuilders

/** Engine extension point: registers the custom codegen'd `graft_*`
  * expressions into the session's function registry. REQUIRED — every
  * kernel call site calls its kernel unconditionally, so a session
  * without it fails analysis with an UNRESOLVED_ROUTINE error naming
  * the kernel. [[GraftSession.builder]] wires it
  * (`spark.sql.extensions=graft.GraftExtensions`). The higher-order
  * twins (Similarity.dot, Dedup.minhashBandsHof, ...) are equivalence
  * references for the specs and x_kernel_equiv, not a second path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      GraftFunctionBuilders.dotInfo, GraftFunctionBuilders.dotBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_minhash_bands"),
      GraftFunctionBuilders.minhashInfo, GraftFunctionBuilders.minhashBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      GraftFunctionBuilders.shingleInfo, GraftFunctionBuilders.shingleBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_cosine_sim"),
      GraftFunctionBuilders.cosineInfo, GraftFunctionBuilders.cosineBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_lsh_bucket"),
      GraftFunctionBuilders.lshInfo, GraftFunctionBuilders.lshBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      GraftFunctionBuilders.mightContainInfo, GraftFunctionBuilders.mightContainBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_cms_estimate"),
      GraftFunctionBuilders.cmsEstimateInfo, GraftFunctionBuilders.cmsEstimateBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      GraftFunctionBuilders.simhashInfo, GraftFunctionBuilders.simhashBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_ivfadc_scores"),
      GraftFunctionBuilders.ivfAdcScoresInfo,
      GraftFunctionBuilders.ivfAdcScoresBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_ivf_cos_scores"),
      GraftFunctionBuilders.ivfCosScoresInfo,
      GraftFunctionBuilders.ivfCosScoresBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_winnow"),
      GraftFunctionBuilders.winnowInfo, GraftFunctionBuilders.winnowBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_winnow_packed"),
      GraftFunctionBuilders.winnowPackedInfo, GraftFunctionBuilders.winnowPackedBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_bpe_encode"),
      GraftFunctionBuilders.bpeEncodeInfo, GraftFunctionBuilders.bpeEncodeBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_nfc"),
      GraftFunctionBuilders.nfcInfo, GraftFunctionBuilders.nfcBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_mg_topk"),
      graft.functions.MisraGriesTopK.info, graft.functions.MisraGriesTopK.builder _))
    ext.injectFunction((FunctionIdentifier("graft_pq_encode"),
      GraftFunctionBuilders.pqEncodeInfo, GraftFunctionBuilders.pqEncodeBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_image_dims"),
      GraftFunctionBuilders.imageDimsInfo,
      GraftFunctionBuilders.imageDimsBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_unigram_encode"),
      GraftFunctionBuilders.unigramEncodeInfo,
      GraftFunctionBuilders.unigramEncodeBuilder _))
    ext.injectFunction((FunctionIdentifier("graft_wav_meta"),
      GraftFunctionBuilders.wavMetaInfo,
      GraftFunctionBuilders.wavMetaBuilder _))
    // Opt-in approximate similarity-join rewrite (see
    // graft.plans.ApproxSimilarityJoin — off unless
    // spark.graft.approxSimilarityJoin=true).
    ext.injectOptimizerRule(_ => new graft.plans.ApproxSimilarityJoin)
  }
}
