package graft.plans

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  InheritAnalysisRules, RuntimeReplaceable}
import graft.functions.TextFunctions

/** spark-submit integration point: `--conf spark.sql.extensions=
  * graft.plans.GraftExtensions` registers the library's native
  * expressions in every session the cluster builds, so pure-SQL users
  * get `extract_turn`, `minhash_sig` and `simhash` without Scala imports
  * (the per-session [[ExtractTurnExpr.register]] stays for notebook use).
  * The same hook would carry optimizer rules / strategies (preference
  * path (c) of the operator policy); everything this library needs is
  * expressible as native expressions + the declarative DataFrame API, so
  * only functions are injected.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** Every SQL function of the library, by name. */
  val functions: Seq[(String, Builder)] = Seq(
    named("extract_turn", "extract_turn(text)", 1)(
      es => TextFunctions.extractTurn(column(es(0)))),
    named("minhash_sig", "minhash_sig(tokens, k) with a literal k", 2)(
      es => TextFunctions.minHashSig(column(es(0)), literalK(es(1)))),
    named("simhash", "simhash(tokens)", 1)(
      es => TextFunctions.simHash(column(es(0)))),
    "cosine_sim" -> { es =>
      require(es.size == 2, "usage: cosine_sim(vec_a, vec_b)")
      CosineSimExpr(es(0), es(1))
    },
    named("nfc_normalize", "nfc_normalize(text)", 1)(
      es => TextFunctions.nfcNormalize(column(es(0)))),
    named("strip_accents", "strip_accents(text)", 1)(
      es => TextFunctions.stripAccents(column(es(0)))))

  /** A builder checking arity, then naming the built column `name(args)`. */
  private def named(name: String, usage: String, arity: Int)(
      build: Seq[Expression] => Column): (String, Builder) =
    name -> { es =>
      require(es.size == arity, s"usage: $usage")
      NamedCall(name, es, expression(build(es)))
    }

  /** minhash_sig's k, folded here: a non-literal, null, fractional or
    * non-numeric k must fail with the usage message at analysis, not leak
    * an NPE or NumberFormatException.
    */
  private def literalK(e: Expression): Int = {
    val usage = "usage: minhash_sig(tokens, k) with a literal k"
    require(e.foldable, usage)
    val k = e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long
          if l >= 1L && l <= Int.MaxValue => l.intValue()
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte  => b.intValue()
      case _ => throw new IllegalArgumentException(usage)
    }
    require(k >= 1 && k <= 1024, usage)
    k
  }
}

/** A SQL call shown as `name(parameters)` and evaluated as `replacement`
  * (which the optimizer substitutes before planning), so an unaliased
  * `SELECT extract_turn(x)` column is named `extract_turn(x)`, not after
  * the bridge method. SQL only: Column-API parameters are still
  * unresolved when built and would print as placeholders.
  */
case class NamedCall(name: String, parameters: Seq[Expression],
    replacement: Expression) extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(newChild: Expression): NamedCall =
    copy(replacement = newChild)
}
