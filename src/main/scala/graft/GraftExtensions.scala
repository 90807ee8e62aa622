package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.DotProductLong

/** Session-extensions entry point — the standard way to ship the engine's
  * custom Catalyst surface into ANY session, including pure-SQL ones:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or, on a session builder: .withExtensions(new GraftExtensions)
  *   spark.sql("SELECT graft_dot_long(a, b) FROM vectors")
  * }}}
  *
  * Registers the codegen'd dot-product expression
  * ([[graft.plans.DotProductLong]]) as a built-in-style function, so SQL
  * users get it without touching the Scala API.
  * [[DotProductLong.dotLong]] remains the programmatic path (it
  * registers lazily in sessions built without extensions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(DotProductLong.FnName),
      new ExpressionInfo(classOf[DotProductLong].getName,
        DotProductLong.FnName),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"${DotProductLong.FnName} requires " +
          s"exactly 2 arguments (array<bigint>, array<bigint>), " +
          s"got ${exprs.length}")
        DotProductLong(exprs.head, exprs(1))
      }))
    def unary(name: String, cls: Class[_],
        mk: Expression => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1,
            s"$name requires exactly 1 string argument, got ${exprs.length}")
          mk(exprs.head)
        }))
    unary(graft.plans.UnicodeNormalize.NfcFnName,
      classOf[graft.plans.NfcNormalize], graft.plans.NfcNormalize(_))
    unary(graft.plans.UnicodeNormalize.StripFnName,
      classOf[graft.plans.StripAccents], graft.plans.StripAccents(_))
  }
}
