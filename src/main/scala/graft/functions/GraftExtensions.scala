package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the engine's native expressions, so
  * `spark.sql("SELECT simhash64(...)")` works alongside the Column
  * API. Install either at session build time — `withExtensions(new
  * GraftExtensions)`, as [[graft.SparkEntry.session]] does, or the
  * conf `spark.sql.extensions=graft.functions.GraftExtensions` — or
  * on a live session via [[GraftExtensions.registerFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // theta→banded-equi-join rewrite; no-op until
    // spark.graft.bandJoin.width is set (see BandJoinRule scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRule)
    // SQL face of the TxTable corpus verbs: tx.`path` relations,
    // VERSION/TIMESTAMP AS OF, DELETE FROM (resolution rule), and
    // the RESTORE/VACUUM statements (parser) — see TxSqlSupport
    ext.injectResolutionRule(s => graft.plans.TxRelationRule(s))
    ext.injectParser((_, delegate) => new graft.plans.TxSqlParser(delegate))
  }
}

object GraftExtensions {
  private def info(clazz: String, name: String, usage: String) =
    new ExpressionInfo(clazz, null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      info("graft.functions.SimHash64", "simhash64",
        "simhash64(array<bigint>) - 64-bit SimHash of token hashes"),
      (c: Seq[Expression]) => SimHash64(c.head)),
    (FunctionIdentifier("minhash_signature64"),
      info("graft.functions.MinHashSignature64", "minhash_signature64",
        "minhash_signature64(array<bigint>, k) - k-wise MinHash signature"),
      (c: Seq[Expression]) => MinHashSignature64(c.head,
        c(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("dot_ff"),
      info("graft.functions.DotProductFF", "dot_ff",
        "dot_ff(array<float>, array<float>) - double dot product"),
      (c: Seq[Expression]) => DotProductFF(c(0), c(1))),
    (FunctionIdentifier("jaccard_ll"),
      info("graft.functions.JaccardSetsLL", "jaccard_ll",
        "jaccard_ll(array<bigint>, array<bigint>) - set Jaccard"),
      (c: Seq[Expression]) => JaccardSetsLL(c(0), c(1))),
    (FunctionIdentifier("ngram_hashes64"),
      info("graft.functions.NgramHashes64", "ngram_hashes64",
        "ngram_hashes64(array<string>, n) - distinct sliding n-token " +
          "window hashes"),
      (c: Seq[Expression]) => NgramHashes64(c.head,
        c(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("strided_ngram_hashes64"),
      info("graft.functions.StridedNgramHashes64", "strided_ngram_hashes64",
        "strided_ngram_hashes64(array<string>, n, stride) - distinct " +
          "full n-token window hashes at a fixed stride"),
      (c: Seq[Expression]) => StridedNgramHashes64(c.head,
        c(1).eval().asInstanceOf[Number].intValue(),
        c(2).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("top_k_structs"),
      info("graft.functions.TopKAgg", "top_k_structs",
        "top_k_structs(payload_struct, score, tiebreak, k) - bounded " +
          "top-k aggregate by (score DESC, tiebreak ASC)"),
      (c: Seq[Expression]) => TopKAgg.withCasts(c(0), c(1), c(2),
        c(3).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("repetition_stats"),
      info("graft.functions.RepetitionStats", "repetition_stats",
        "repetition_stats(array<string>) - struct(n_bigrams, " +
          "n_trigrams, dup3_frac, top2_frac) repetition signals"),
      (c: Seq[Expression]) => RepetitionStats(c.head)),
    (FunctionIdentifier("ngram_strings"),
      info("graft.functions.NgramStrings", "ngram_strings",
        "ngram_strings(array<string>, n) - all space-joined n-token " +
          "window strings, in order"),
      (c: Seq[Expression]) => NgramStrings(c.head,
        c(1).eval().asInstanceOf[Number].intValue())))

  /** Register on an already-built session (tests, REPL). */
  def registerFunctions(spark: SparkSession): Unit =
    functions.foreach { case (id, fnInfo, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        id, fnInfo, builder)
    }
}
