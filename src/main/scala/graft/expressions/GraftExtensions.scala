package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Companion of a native Catalyst expression: its SQL name and builder.
  * [[GraftExtensions]] injects each one into the sessions built with the
  * extensions; `register` is the imperative path for a session built
  * without them (a harness that builds its own session).
  */
trait NativeFunction {
  def fnName: String
  def builder: Seq[Expression] => Expression
  // the companion's class name less its `$` is the expression's class
  def info: ExpressionInfo = new ExpressionInfo(getClass.getName.stripSuffix("$"), fnName)

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName, builder, "built-in")

  /** Register on whatever sessions exist (ops helpers emit SQL fragments
    * that reference the function at analysis time).
    */
  def registerActive(): Unit =
    (SparkSession.getActiveSession.toSeq ++ SparkSession.getDefaultSession.toSeq)
      .foreach(register)
}

object GraftExtensions {
  val functions: Seq[NativeFunction] = Seq(UrlEncodeWarp, DotProductDouble,
    DotProductLong, NfcNormalize, Md5Hash60, ImageHeaderDecode, JpegHeaderDecode,
    Mp4HeaderDecode, AudioHeaderDecode, VideoHeaderDecode, ImageAHash,
    ImageDctHash, AudioFingerprint)
}

/** `spark.sql.extensions=graft.expressions.GraftExtensions` — the
  * config-driven injection path for sessions we own: every native
  * function plus the opt-in global-window scale guard
  * ([[graft.plans.GlobalWindowGuard]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.fnName), f.info, f.builder)))
    ext.injectPostHocResolutionRule(graft.plans.GlobalWindowGuard.apply)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // row_number()<=k filters route to the bounded TopKPerGroup operator
    // (default on; kill switch spark.graft.rewrite.topK=false)
    ext.injectOptimizerRule(graft.plans.TopKRewrite.apply)
  }
}
