package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: injects the engine's native
  * Catalyst functions into every session built with
  * `.withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.GraftExtensions` — the deployment path for
  * spark-submit clusters where builder code isn't ours to edit. The
  * builder-code path, [[graft.core.Normalize.register]], registers the same
  * [[GraftExtensions.Functions]] table as temp functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for (f <- GraftExtensions.Functions)
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.exprClass.getName, f.name), f.build))
    ext.injectOptimizerRule(_ => graft.plans.IdempotentAliasKey)
  }
}

object GraftExtensions {

  /** A native function: its SQL name, its expression builder, and the
    * expression class (named in the function's [[ExpressionInfo]]). */
  final case class NativeFunction(name: String,
                                  build: Seq[Expression] => Expression,
                                  exprClass: Class[_])

  /** Every native function the library calls by name (`call_function`). */
  val Functions: Seq[NativeFunction] = {
    import graft.core.{Normalize, NtCodec}
    Seq(
      NativeFunction("alias_key", es => Normalize.AliasKeyExpr(es.head),
                     classOf[Normalize.AliasKeyExpr]),
      NativeFunction("canonical_label",
                     es => Normalize.CanonicalLabelExpr(es.head),
                     classOf[Normalize.CanonicalLabelExpr]),
      NativeFunction("plural_lexhead",
                     es => Normalize.PluralLexheadExpr(es.head),
                     classOf[Normalize.PluralLexheadExpr]),
      NativeFunction("nt_encode_resource",
                     es => NtCodec.NtEncodeResourceExpr(es.head),
                     classOf[NtCodec.NtEncodeResourceExpr]),
      NativeFunction("nt_escape_literal",
                     es => NtCodec.NtEscapeLiteralExpr(es.head),
                     classOf[NtCodec.NtEscapeLiteralExpr]),
      NativeFunction("nt_decode_resource",
                     es => NtCodec.NtDecodeResourceExpr(es.head),
                     classOf[NtCodec.NtDecodeResourceExpr]),
      NativeFunction("nt_unescape_literal",
                     es => NtCodec.NtUnescapeLiteralExpr(es.head),
                     classOf[NtCodec.NtUnescapeLiteralExpr]),
      NativeFunction("html_to_text",
                     es => graft.ingest.TextExtract.HtmlToTextExpr(es.head),
                     classOf[graft.ingest.TextExtract.HtmlToTextExpr]),
      NativeFunction("vec_dot",
                     es => graft.functions.VectorOps.DotExpr(es.head, es(1)),
                     classOf[graft.functions.VectorOps.DotExpr]))
  }
}
