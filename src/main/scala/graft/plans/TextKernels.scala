package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass JVM twins of the `TextFns` token expressions, for the
  * per-document kernels below. Each walks the text once, where the Column
  * form re-runs `regexp_replace` + `split` for every signal that reads the
  * tokens, and again for every reference a filter makes to them (a
  * `Filter` gets no common-subexpression elimination, and predicate
  * pushdown re-inlines any projection placed under it). */
object TextKernels {
  // Java regex \s (no UNICODE_CHARACTER_CLASS): exactly these six chars,
  // as in DsirMath — NBSP and other Unicode spaces stay inside a token
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Exactly `split(normText(s), " ")`: the whitespace-separated runs of
    * `s`, or ONE empty token when `s` has none (the split of ""). */
  def tokens(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = s.length
    var i = 0
    var start = -1
    while (i <= n) {
      val atWs = i == n || isWs(s.charAt(i))
      if (!atWs && start < 0) start = i
      else if (atWs && start >= 0) {
        out += s.substring(start, i)
        start = -1
      }
      i += 1
    }
    if (out.isEmpty) Array("") else out.toArray
  }

  /** Spark's `round(x, 4)` on a double (HALF_UP over the decimal form). */
  def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One document's bigram counts: (a, b, tf) per distinct adjacent pair,
    * in first-occurrence order; no element for a document under two
    * tokens. With `singletons`, a one-token document instead yields
    * (token, null, 1), so a caller can take the vocabulary from the same
    * rows. Null text yields null. */
  def bigramCounts(s: UTF8String, singletons: Boolean): ArrayData = {
    if (s == null) return null
    val toks = tokens(s.toString).map(UTF8String.fromString)
    if (toks.length < 2)
      return new GenericArrayData(
        if (singletons) Array[Any](InternalRow(toks(0), null, 1L)) else Array.empty[Any])
    val counts = new java.util.LinkedHashMap[(UTF8String, UTF8String), Array[Long]]()
    var i = 1
    while (i < toks.length) {
      val k = (toks(i - 1), toks(i))
      val c = counts.get(k)
      if (c == null) counts.put(k, Array(1L)) else c(0) += 1
      i += 1
    }
    val out = new Array[Any](counts.size)
    var j = 0
    val it = counts.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      out(j) = InternalRow(e.getKey._1, e.getKey._2, e.getValue()(0))
      j += 1
    }
    new GenericArrayData(out)
  }

  val BigramType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = true),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  private[plans] def staticCall(ctx: CodegenContext, ev: ExprCode, child: Expression,
      javaType: String, nullable: Boolean)(call: String => String): ExprCode = {
    val childGen = child.genCode(ctx)
    val arg = s"(${childGen.isNull} ? null : ${childGen.value})"
    if (nullable)
      ev.copy(code = code"""
        ${childGen.code}
        $javaType ${ev.value} = ${call(arg)};
        boolean ${ev.isNull} = ${ev.value} == null;
        """)
    else
      ev.copy(code = code"""
        ${childGen.code}
        $javaType ${ev.value} = ${call(arg)};
        """, isNull = FalseLiteral)
  }
}

/** `bigram_counts(text)` — [[TextKernels.bigramCounts]] as a native
  * expression: a document's bigram term frequencies counted inside its
  * row, so a fold over documents with unique ids needs no
  * (doc_id, a, b) shuffle. */
case class BigramCounts(child: Expression, singletons: Boolean) extends UnaryExpression {
  override def dataType: DataType = TextKernels.BigramType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any =
    TextKernels.bigramCounts(child.eval(input).asInstanceOf[UTF8String], singletons)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = TextKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    TextKernels.staticCall(ctx, ev, child, "org.apache.spark.sql.catalyst.util.ArrayData",
      nullable = true)(arg => s"$cls.bigramCounts($arg, $singletons)")
  }
  override protected def withNewChildInternal(newChild: Expression): BigramCounts =
    copy(child = newChild)
  override def prettyName: String = "bigram_counts"
}

/** A rule gate's per-document kernel: its signals and its verdict, both
  * from one pass over the text (implemented by
  * `graft.ops.TextOps.RuleGateConfig`). */
trait RuleGateKernel extends Serializable {
  /** (n_words, mean_wlen, stop_hits, symbol_ratio); null for null text. */
  def signals(text: UTF8String): InternalRow
  /** The keep verdict; false for null text. */
  def keep(text: UTF8String): Boolean
}

object RuleGateKernel {
  val SignalsType: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("mean_wlen", DoubleType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("symbol_ratio", DoubleType, nullable = false)))
}

/** The gate's signals struct: one kernel call per row. */
case class RuleGateSignals(child: Expression, gate: RuleGateKernel) extends UnaryExpression {
  override def dataType: DataType = RuleGateKernel.SignalsType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any =
    gate.signals(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("ruleGate", gate, classOf[RuleGateKernel].getName)
    TextKernels.staticCall(ctx, ev, child,
      "org.apache.spark.sql.catalyst.InternalRow", nullable = true)(
      arg => s"$g.signals($arg)")
  }
  override protected def withNewChildInternal(newChild: Expression): RuleGateSignals =
    copy(child = newChild)
  override def prettyName: String = "rule_gate_signals"
}

/** The gate's verdict: ONE kernel call per row, also inside a `Filter`. */
case class RuleGateKeep(child: Expression, gate: RuleGateKernel) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    gate.keep(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("ruleGate", gate, classOf[RuleGateKernel].getName)
    TextKernels.staticCall(ctx, ev, child, "boolean", nullable = false)(
      arg => s"$g.keep($arg)")
  }
  override protected def withNewChildInternal(newChild: Expression): RuleGateKeep =
    copy(child = newChild)
  override def prettyName: String = "rule_gate_keep"
}
