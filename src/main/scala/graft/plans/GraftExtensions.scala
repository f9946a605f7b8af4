package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's custom Catalyst expressions as SQL functions, so
  * `spark.sql("SELECT rolling_hash(text) ...")` works alongside the
  * Column API, and (at session build) graft's plan lint.
  *
  * Two entry points:
  *  - `.withExtensions(new GraftExtensions)` at session build time
  *    (or `spark.sql.extensions=graft.plans.GraftExtensions`);
  *  - `GraftExtensions.register(spark)` for an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // plan lint (spark.graft.scaleGuard=warn|fail|off); pre-CBO runs
    // exactly once per query, after operator optimization
    e.injectPreCBORule(ScaleGuardRule)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def arity(name: String, n: Int)(b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { exprs =>
    require(exprs.length == n,
      s"$name expects $n argument(s), got ${exprs.length}")
    b(exprs)
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash",
      info("rolling_hash", "rolling_hash(str) - polynomial rolling hash of the UTF-8 bytes"),
      arity("rolling_hash", 1)(exprs => RollingHash(exprs.head))),
    ("array_dot",
      info("array_dot", "array_dot(a, b) - dot product of two array<double|float> columns"),
      arity("array_dot", 2)(exprs => ArrayDot(exprs(0), exprs(1)))),
    ("array_norm_quantize",
      info("array_norm_quantize",
        "array_norm_quantize(vec, scale) - L2-normalize then int-quantize (scale must be a literal)"),
      arity("array_norm_quantize", 2)(exprs => ArrayNormQuantize(exprs(0),
        exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
          case other => throw new IllegalArgumentException(
            s"array_norm_quantize: scale must be an integer literal, got $other")
        }))),
    ("hyperplane_sig",
      info("hyperplane_sig",
        "hyperplane_sig(vec, planes) - random-hyperplane LSH signature (planes must be a literal)"),
      arity("hyperplane_sig", 2)(exprs => HyperplaneSig(exprs(0),
        exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
          case other => throw new IllegalArgumentException(
            s"hyperplane_sig: planes must be an integer literal, got $other")
        }))))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
