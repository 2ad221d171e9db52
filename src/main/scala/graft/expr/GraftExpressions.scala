package graft.expr

import graft.text.TextExtract
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY §2.10 escalation path (b)).
  *
  * Spark's built-in `trim` strips a fixed char set and `regexp_replace` can't
  * reproduce Python `str.strip`'s exact whitespace class (NBSP/NEL/figure
  * space…) plus the reference's positional front-matter scan in one codegen'd
  * pass — and the byte-identical invariant forbids approximating it. These
  * expressions wrap the verified Scala functions with real `doGenCode`
  * (static call, no CodegenFallback) so the extraction is usable from SQL
  * (`graft_extract_text(html)`) and stays inside whole-stage codegen.
  */
object GraftExpressions {

  /** Front-matter strip on a string column — Python-exact semantics. */
  case class FrontMatterStrip(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_front_matter_strip requires STRING, got ${child.dataType}")
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(TextExtract.frontMatterStrip(v.asInstanceOf[UTF8String].toString))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"UTF8String.fromString(graft.text.TextExtract.frontMatterStrip($c.toString()))")
    override protected def withNewChildInternal(c: Expression): FrontMatterStrip = copy(child = c)
    override def prettyName: String = "graft_front_matter_strip"
  }

  /** html BINARY → byte-identical extracted text. */
  case class ExtractText(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_extract_text requires BINARY, got ${child.dataType}")
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(TextExtract.extractText(v.asInstanceOf[Array[Byte]]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"UTF8String.fromString(graft.text.TextExtract.extractText($c))")
    override protected def withNewChildInternal(c: Expression): ExtractText = copy(child = c)
    override def prettyName: String = "graft_extract_text"
  }

  /** Codegen'd double-array dot product. Spark's higher-order `aggregate`/
    * `zip_with` run interpreted (CodegenFallback) — on the ANN hot paths the
    * per-pair fold was the residual interpreted island. This expression is a
    * tight primitive loop inside whole-stage codegen, numerically IDENTICAL
    * to the left-to-right fold (same addition order), so oracle parity is
    * unchanged. Arrays are fixed-dimension embeddings (no null elements);
    * unequal lengths dot the common prefix.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(t: DataType) = t match {
        case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires ARRAY<DOUBLE>, got (${left.dataType}, ${right.dataType})")
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $b.getDouble($i); }
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)
    override def prettyName: String = "graft_dot"
  }

  /** Unicode NFC normalization (UAX #15 canonical composition) — the
    * text-canonicalization step a web corpus needs before hashing/dedup
    * (the same logical text arrives as composed "é" from one site and
    * "e"+U+0301 from another; every md5-keyed operator in this engine
    * would treat them as distinct documents). Spark has no builtin;
    * `java.text.Normalizer` (ICU-equivalent for NFC) via a real
    * `doGenCode` static call keeps it inside whole-stage codegen.
    * DuckDB's `nfc_normalize` implements the same UAX #15 — an
    * independent implementation for the oracle.
    */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nfc requires STRING, got ${child.dataType}")
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(java.text.Normalizer.normalize(
        v.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"UTF8String.fromString(java.text.Normalizer.normalize($c.toString(), java.text.Normalizer.Form.NFC))")
    override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
    override def prettyName: String = "graft_nfc"
  }

  import org.apache.spark.sql.GraftBridge

  def extract_text(c: Column): Column =
    GraftBridge.column(ExtractText(GraftBridge.expression(c)))
  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))
  def nfc_normalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))

  /** Register SQL functions on a session (graft_extract_text,
    * graft_front_matter_strip, graft_dot).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_extract_text", exprs => ExtractText(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_front_matter_strip", exprs => FrontMatterStrip(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc", exprs => NfcNormalize(exprs.head), "scala_udf")
  }
}
