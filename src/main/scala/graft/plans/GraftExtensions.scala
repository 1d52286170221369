package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.TextHash

/**
 * SparkSessionExtensions entry point: registers the native kernels as SQL
 * functions so `spark.sql("SELECT long_array_dot(a, b) ...")` works in any
 * session configured with
 * `spark.sql.extensions=graft.plans.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL UPDATE / MERGE INTO on graft tables → catalog commits (GraftDml)
    ext.injectResolutionRule(_ => new GraftUpdateRewrite)
    ext.injectResolutionRule(_ => new GraftDeleteRewrite)
    ext.injectResolutionRule(_ => new GraftMergeRewrite)
    ext.injectResolutionRule(_ => new GraftDynamicOverwriteRewrite)
    // Manifest zone-map pruning + metadata-only count(*) (GraftZoneRules)
    ext.injectOptimizerRule(_ => new GraftZonePrune)
    ext.injectOptimizerRule(_ => new GraftCountFromStats)
    // The one SQL read path of MoR-pending and other reader-backed
    // relations: splice the reader plan in place of the relation at
    // pre-CBO (after filter pushdown, before V2ScanRelationPushDown
    // builds the relation's scan) — see GraftMorNativeRead.
    ext.injectPreCBORule(_ => new GraftMorNativeRead)
    // ...and the planning-time eraser for the ANALYZE-stats pin the
    // splice leaves on its subtree (GraftStatsPin reports, never runs)
    ext.injectPlannerStrategy(_ => GraftStatsPinStrategy)
    // (Runtime join filtering needs no injection: GraftSqlTable's scan
    // builder returns a SupportsRuntimeV2Filtering scan natively —
    // see graft.plans.GraftScanBuilder.)
    register(ext, "long_array_dot", "exact integer dot product of two array<bigint>",
      { args =>
        require(args.length == 2, "long_array_dot(a, b)")
        LongArrayDot(args(0), args(1))
      })
    register(ext, "minhash_sig", "128-wide minhash signature of array<bigint> hashes",
      { args =>
        require(args.length == 1, "minhash_sig(hashes)")
        val (a, b) = TextHash.minhashCoeffs(128)
        MinHashSig(args(0), a, b)
      })
    register(ext, "simhash60", "60-bit simhash of array<bigint> token hashes",
      { args =>
        require(args.length == 1, "simhash60(hashes)")
        SimHash60(args(0))
      })
    register(ext, "quality_score_sum",
      "fused hashed-classifier weight sum over array<string> tokens",
      { args =>
        require(args.length == 1, "quality_score_sum(tokens)")
        QualityScoreSum(args(0))
      })
  }

  private def register(ext: SparkSessionExtensions, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit = {
    val info = new ExpressionInfo("graft.plans", name, usage)
    val fb: FunctionBuilder = exprs => builder(exprs)
    ext.injectFunction((FunctionIdentifier(name), info, fb))
  }
}
