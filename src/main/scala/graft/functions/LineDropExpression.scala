package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RefinedWeb line-rule verdict runtime
  * ([[graft.operators.LineCorrections]]): ONE pass over the line's
  * chars computes every count the four rules need — ASCII letter and
  * uppercase totals, the \s+-split word count of the trimmed line, the
  * trimmed length, and the first non-space char — then the two regex
  * rules run only behind their cheap gates (the counter pattern cannot
  * match unless the first non-blank char is a digit; the stub rule is
  * defined only on ≤ 3-word lines). Bit-compatible with the RE2 oracle:
  * `[A-Za-z]`/`[A-Z]` classes; RE2 `\s` = `[ \t\n\f\r]` (explicit — Java
  * `\s` adds \x0B); `regexp_split_to_array`'s keep-both-edge-empty-
  * fields convention (which Spark's `split(limit = -1)` shares), so a
  * trailing tab/\r run on a space-trimmed line still counts a field.
  */
object LineDropRuntime {

  // RE2 \s is [ \t\n\f\r]; spell it out so Java's wider \s (adds \x0B)
  // cannot diverge from the oracle on vertical-tab lines
  private val Counter = java.util.regex.Pattern.compile(
    "(?i)^[ \\t\\n\\f\\r]*[0-9]+ (likes?|comments?|shares?|views?)[ \\t\\n\\f\\r]*$")
  private val Stub = java.util.regex.Pattern.compile(
    "(?i)(sign in|log in|click here|read more|accept cookies)")

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  def drop(line: UTF8String): Boolean = {
    val s = line.toString
    val n = s.length
    // trim bounds (Java trim: <= ' ' — but the rules used trim() on the
    // same Java semantics via Spark's trim, which strips ' ' only; Spark
    // SQL trim removes spaces, not tabs. Match Spark: strip ' ' only.)
    var lo = 0
    while (lo < n && s.charAt(lo) == ' ') lo += 1
    var hi = n
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    var letters = 0
    var upper = 0
    var words = 1 // split("\s+") of any string yields >= 1 field
    var prevWs = false
    var i = lo
    var firstNonSpace: Char = 0
    while (i < hi) {
      val c = s.charAt(i)
      if (firstNonSpace == 0 && !isWs(c)) firstNonSpace = c
      if (c >= 'A' && c <= 'Z') { upper += 1; letters += 1 }
      else if (c >= 'a' && c <= 'z') letters += 1
      val ws = isWs(c)
      if (ws && !prevWs) words += 1
      prevWs = ws
      i += 1
    }
    // regexp_split_to_array (and Spark's split with limit = -1) keeps
    // BOTH edge empty fields: a ws-run ending the trimmed region
    // (possible: trim strips ' ' only, a trailing tab/\r survives) is a
    // field boundary just like a leading one — no trailing decrement.
    // count FULL-string letters too: the ratio rules ran on the raw line,
    // not the trimmed one — outside [lo, hi) only ' ' chars exist (never
    // letters), so the trimmed-scan counts are already the raw counts.
    val mostlyUpper = letters > 0 && upper * 10 > letters * 6
    val noLetters = hi > lo && letters == 0
    if (mostlyUpper || noLetters) return true
    if (firstNonSpace >= '0' && firstNonSpace <= '9' && Counter.matcher(s).matches())
      return true
    words <= 3 && Stub.matcher(s).find()
  }
}

/** line_drop(line): the four-rule removal verdict in one scan. */
case class LineDrop(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_line_drop"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    LineDropRuntime.drop(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.LineDropRuntime.drop($v);")
  override protected def withNewChildInternal(c: Expression): LineDrop =
    copy(child = c)
}

object LineDrop {
  def dropCol(line: Column): Column =
    GraftBridge.column(LineDrop(GraftBridge.expression(line)))
}
