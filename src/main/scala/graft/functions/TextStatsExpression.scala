package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass ASCII text statistics over a string's UTF-8 bytes:
  * `struct<alpha, digit, alnum, tokens>` where
  *  - alpha  = count of bytes in 'a'..'z'
  *  - digit  = count of bytes in '0'..'9'
  *  - alnum  = alpha + digit
  *  - tokens = number of maximal `[a-z0-9]+` runs
  *
  * Intended to be applied to an already-lowercased column. Byte-wise is
  * EXACT for these classes: multi-byte UTF-8 code points have the high
  * bit set on every byte, so they can never be counted as (or glue
  * together) ASCII alphanumeric runs. Replaces four separate scans
  * (`translate` ×2 — each of which copies the string — a `regexp_count`
  * tokenizer pass, and their `length` calls) with one allocation-free
  * codegen'd loop; quality scoring over a corpus is dominated by exactly
  * these scans.
  */
case class TextStats(child: Expression) extends UnaryExpression {

  override def prettyName: String = "text_stats"

  override def dataType: DataType = TextStats.schema

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var alpha = 0; var digit = 0; var tokens = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val isAz = b >= 'a' && b <= 'z'
      val isD = b >= '0' && b <= '9'
      if (isAz) alpha += 1
      if (isD) digit += 1
      if (isAz || isD) {
        if (!inRun) { tokens += 1; inRun = true }
      } else inRun = false
      i += 1
    }
    InternalRow(alpha, digit, alpha + digit, tokens)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val n = ctx.freshName("n")
      val alpha = ctx.freshName("alpha")
      val digit = ctx.freshName("digit")
      val tokens = ctx.freshName("tokens")
      val inRun = ctx.freshName("inRun")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val az = ctx.freshName("az")
      val dg = ctx.freshName("dg")
      s"""
         |final int $n = $s.numBytes();
         |int $alpha = 0; int $digit = 0; int $tokens = 0;
         |boolean $inRun = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  final byte $b = $s.getByte($i);
         |  final boolean $az = $b >= 'a' && $b <= 'z';
         |  final boolean $dg = $b >= '0' && $b <= '9';
         |  if ($az) $alpha++;
         |  if ($dg) $digit++;
         |  if ($az || $dg) { if (!$inRun) { $tokens++; $inRun = true; } }
         |  else $inRun = false;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] { $alpha, $digit, $alpha + $digit, $tokens });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("alpha", IntegerType, nullable = false),
    StructField("digit", IntegerType, nullable = false),
    StructField("alnum", IntegerType, nullable = false),
    StructField("tokens", IntegerType, nullable = false)))

  /** Column wrapper: stats of an (already lowercased) string column. */
  def textStats(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      TextStats(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
