package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

/** Engine extensions: native function registration and the top-k
  * planner strategy.
  *
  * Two entry points:
  *   - `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *     (cluster-wide, SQL-visible);
  *   - [[GraftFunctions.register]] for an already-built session (what
  *     [[graft.engine.GraftSession]] does).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftFunctions {

  /** `graft_date_bin(ts, binMillis)` — the reference's `DATE_BIN` (epoch
    * anchor) as a composition of built-in catalyst expressions:
    * `timestamp_millis((unix_millis(ts) div bin) * bin)` cast to
    * TIMESTAMP_NTZ. Composition (vs a custom Expression) keeps codegen and
    * constant-folding for free.
    */
  private def dateBinExpr(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ts = Cast(args(0), TimestampType)
    val bin = args(1)
    Cast(MillisToTimestamp(Multiply(IntegralDivide(UnixMillis(ts), bin), bin)),
      TimestampNTZType)
  }

  /** Arity gate for SQL builders: wrong argument counts raise Spark's own
    * WRONG_NUM_ARGS `AnalysisException` (as builtins do) instead of an
    * `IndexOutOfBoundsException` from `args(i)`. Type misuse is handled
    * separately by each Expression's `ExpectsInputTypes`/
    * `checkInputDataTypes`, which the analyzer turns into
    * DATATYPE_MISMATCH errors — never a generated-code CCE/NPE.
    */
  private def checkArity(name: String, args: Seq[Expression],
                         expected: Seq[Int]): Unit =
    if (!expected.contains(args.length))
      ColumnBridge.wrongNumArgs(name, expected, args.length)

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        checkArity("graft_dot", args, Seq(2))
        ArrayDotProduct(args(0), args(1))
      }),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[ArrayCosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        checkArity("graft_cosine", args, Seq(2))
        ArrayCosineSimilarity(args(0), args(1))
      }),
    (FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[ArrayL2Sq].getName, "graft_l2sq"),
      (args: Seq[Expression]) => {
        checkArity("graft_l2sq", args, Seq(2))
        ArrayL2Sq(args(0), args(1))
      }),
    (FunctionIdentifier("graft_date_bin"),
      new ExpressionInfo(GraftFunctions.getClass.getName, "graft_date_bin"),
      (args: Seq[Expression]) => {
        checkArity("graft_date_bin", args, Seq(2))
        dateBinExpr(args)
      }),
    // the reference dialect's array_has_all(haystack, needles) — Spark has
    // no builtin; needles ⊆ haystack ⇔ array_except(needles, haystack) = []
    (FunctionIdentifier("graft_array_has_all"),
      new ExpressionInfo(GraftFunctions.getClass.getName, "graft_array_has_all"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions._
        checkArity("graft_array_has_all", args, Seq(2))
        EqualTo(Size(ArrayExcept(args(1), args(0))), Literal(0))
      }),
    // graft_morton(bits, c1[, c2..c4]) — fused Z-curve bit interleave
    (FunctionIdentifier("graft_morton"),
      new ExpressionInfo(classOf[MortonInterleave].getName, "graft_morton"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        checkArity("graft_morton", args, Seq(2, 3, 4, 5))
        val bits = args.head match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_morton: first arg must be an INT literal, got $other")
        }
        MortonInterleave(args.tail, bits)
      }),
    // native text kernels (single-pass replacements for the interpreted
    // higher-order-function pipelines) — SQL-visible for parity with the
    // Column API used by graft.ml.TextAnalysis
    (FunctionIdentifier("graft_tokens"),
      new ExpressionInfo(classOf[WhitespaceTokens].getName, "graft_tokens"),
      (args: Seq[Expression]) => {
        checkArity("graft_tokens", args, Seq(1))
        WhitespaceTokens(args(0))
      }),
    // graft_deflate(text) — deflate-compressibility stats struct
    // (raw_bytes, deflate_bytes, ratio_micro); quality-signal kernel
    (FunctionIdentifier("graft_deflate"),
      new ExpressionInfo(classOf[DeflateStats].getName, "graft_deflate"),
      (args: Seq[Expression]) => {
        checkArity("graft_deflate", args, Seq(1))
        DeflateStats(args(0))
      }),
    (FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        checkArity("graft_normalize", args, Seq(1, 2))
        val form = if (args.length > 1) args(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"graft_normalize: form must be a STRING literal, got $other")
        } else "NFC"
        UnicodeNormalize(args(0), form)
      }),
    (FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "graft_ngrams"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.types.BooleanType
        checkArity("graft_ngrams", args, Seq(2, 3))
        val n = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_ngrams: n must be an INT literal, got $other")
        }
        val distinct = if (args.length > 2) args(2) match {
          case Literal(b: Boolean, BooleanType) => b
          case other => throw new IllegalArgumentException(
            s"graft_ngrams: distinct must be a BOOLEAN literal, got $other")
        } else false
        WordNgrams(args(0), n, distinct)
      }),
    (FunctionIdentifier("graft_repetition"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "graft_repetition"),
      (args: Seq[Expression]) => {
        checkArity("graft_repetition", args, Seq(1))
        RepetitionStats(args(0))
      }))

  /** Register all graft functions on an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  /** Column-API handle on the native dot product. */
  def graftDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      ArrayDotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API handle on the fused single-pass cosine similarity. */
  def graftCosine(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayCosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API handle on the native squared-L2 distance. */
  def graftL2Sq(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayL2Sq(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
