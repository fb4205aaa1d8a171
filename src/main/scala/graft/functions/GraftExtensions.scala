package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/**
 * Session extension registering the engine's custom expressions in the
 * SQL function registry, so `spark.sql("SELECT simhash64(...)")` works
 * alongside the Column API. [[graft.GraftSession]] registers it through
 * `spark.sql.extensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignatureExpr].getName,
        "minhash_signature"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => MinHashSignatureExpr(child, 32)
        case Seq(child, p) => MinHashSignatureExpr(child, intArg(p, "perms"))
        case _ => throw new IllegalArgumentException(
          "minhash_signature(array<string>[, perms])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => SimHash64Expr(child)
        case _ => throw new IllegalArgumentException(
          "simhash64(array<string>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("rolling_fingerprints"),
      new ExpressionInfo(classOf[RollingFingerprintsExpr].getName,
        "rolling_fingerprints"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => RollingFingerprintsExpr(child, 8, 4)
        case Seq(child, k, m) =>
          RollingFingerprintsExpr(child, intArg(k, "k"), intArg(m, "mod"))
        case _ => throw new IllegalArgumentException(
          "rolling_fingerprints(string[, k, mod])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60Expr].getName, "simhash60"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => SimHash60Expr(child)
        case _ => throw new IllegalArgumentException(
          "simhash60(array<string>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("minhash60"),
      new ExpressionInfo(classOf[MinHash60Expr].getName, "minhash60"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => MinHash60Expr(child, 32)
        case Seq(child, p) => MinHash60Expr(child, intArg(p, "perms"))
        case _ => throw new IllegalArgumentException(
          "minhash60(array<string>[, perms])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("rolling_poly_fp"),
      new ExpressionInfo(classOf[RollingPolyFpExpr].getName,
        "rolling_poly_fp"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => RollingPolyFpExpr(child, 8, 4)
        case Seq(child, k, m) =>
          RollingPolyFpExpr(child, intArg(k, "k"), intArg(m, "mod"))
        case _ => throw new IllegalArgumentException(
          "rolling_poly_fp(string[, k, mod])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => CosineSimExpr(a, b)
        case _ => throw new IllegalArgumentException(
          "cosine_sim(array<float|double>, array<float|double>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotProductExpr(a, b)
        case _ => throw new IllegalArgumentException(
          "dot_product(array<float|double>, array<float|double>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("srp_bucket"),
      new ExpressionInfo(classOf[SrpBucketExpr].getName, "srp_bucket"),
      (args: Seq[Expression]) => args match {
        case Seq(emb) => SrpBucketExpr(emb, 8)
        case Seq(emb, p) => SrpBucketExpr(emb, intArg(p, "planes"))
        case _ => throw new IllegalArgumentException(
          "srp_bucket(array<float|double>[, planes])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("lsh_bands"),
      new ExpressionInfo(classOf[LshBandsExpr].getName, "lsh_bands"),
      (args: Seq[Expression]) => args match {
        case Seq(sig) => LshBandsExpr(sig, 8)
        case Seq(sig, b) => LshBandsExpr(sig, intArg(b, "bands"))
        case _ => throw new IllegalArgumentException(
          "lsh_bands(array<long>[, bands])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("hstore_render"),
      new ExpressionInfo(classOf[HstoreRenderExpr].getName, "hstore_render"),
      (args: Seq[Expression]) => args match {
        case Seq(m) => HstoreRenderExpr(m)
        case _ => throw new IllegalArgumentException(
          "hstore_render(map<string,string>)")
      }))

    ext.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNgramsExpr].getName, "char_ngrams"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => CharNgramsExpr(s, 3)
        case Seq(s, n) => CharNgramsExpr(s, intArg(n, "n"))
        case _ => throw new IllegalArgumentException(
          "char_ngrams(string[, n])")
      }))

    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShinglesExpr].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => WordShinglesExpr(s, 3)
        case Seq(s, k) => WordShinglesExpr(s, intArg(k, "k"))
        case _ => throw new IllegalArgumentException(
          "word_shingles(string[, k])")
      }))
  }
}
