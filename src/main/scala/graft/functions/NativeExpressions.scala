package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.stats.Distributions

/** Native Catalyst expressions for the distribution p-values — the one
  * place the engine's surface genuinely exceeds Spark's built-ins
  * (SURVEY §7.2: "custom Expression (codegen'd CDFs)").
  *
  * Unlike the UDF route, these participate in WholeStageCodegen: the
  * generated Java calls [[Distributions]]' static forwarders directly —
  * no boxing, no ClosureCleaner, usable in per-row hot paths (e.g.
  * million-group t-tests) and from SQL text once registered
  * ([[GraftFunctions.register]] or the [[GraftExtensions]]
  * spark.sql.extensions entry point).
  */
abstract class DistributionExpr extends BinaryExpression with ImplicitCastInputTypes {
  // (return type inferred: AbstractDataType is private[sql])
  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  /** Fully-qualified static Java call template; `$t`/`$df` slots. */
  protected def javaCall(t: String, df: String): String
  protected def scalaCall(t: Double, df: Double): Double
  override def nullSafeEval(t: Any, df: Any): Any =
    scalaCall(t.asInstanceOf[Double], df.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, df) => javaCall(t, df))
}

/** Two-sided Student-t p-value: t_pvalue(t_stat, df). */
case class TTestPValue(left: Expression, right: Expression) extends DistributionExpr {
  override def prettyName: String = "t_pvalue"
  override protected def javaCall(t: String, df: String): String =
    s"graft.stats.Distributions.tTwoSidedP(java.lang.Math.abs($t), $df)"
  override protected def scalaCall(t: Double, df: Double): Double =
    Distributions.tTwoSidedP(math.abs(t), df)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Chi-square upper-tail p-value: chi2_pvalue(stat, df). */
case class Chi2PValue(left: Expression, right: Expression) extends DistributionExpr {
  override def prettyName: String = "chi2_pvalue"
  override protected def javaCall(x: String, df: String): String =
    s"graft.stats.Distributions.chi2P($x, $df)"
  override protected def scalaCall(x: Double, df: Double): Double =
    Distributions.chi2P(x, df)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** F-distribution upper-tail p-value: f_pvalue(f, df1, df2). */
case class FPValue(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "f_pvalue"
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(f: Any, df1: Any, df2: Any): Any =
    Distributions.fP(f.asInstanceOf[Double], df1.asInstanceOf[Double],
      df2.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, df1, df2) =>
      s"graft.stats.Distributions.fP($f, $df1, $df2)")
  override protected def withNewChildrenInternal(
      f: Expression, d1: Expression, d2: Expression): Expression =
    copy(first = f, second = d1, third = d2)
}

/** Column API over the native p-value expressions — what the stats
  * kernel ([[graft.stats.StatTests]]) uses instead of Scala UDFs, so
  * even the p-value arithmetic stays inside WholeStageCodegen. */
object PValues {
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  /** Two-sided Student-t p-value (|t| taken inside). */
  def t(tStat: Column, df: Column): Column =
    ColumnBridge.column(TTestPValue(ex(tStat), ex(df)))

  /** χ² upper-tail p-value. */
  def chi2(stat: Column, df: Column): Column =
    ColumnBridge.column(Chi2PValue(ex(stat), ex(df)))

  /** F upper-tail p-value. */
  def f(fStat: Column, df1: Column, df2: Column): Column =
    ColumnBridge.column(FPValue(ex(fStat), ex(df1), ex(df2)))
}

/** Session-level registration (works on any existing SparkSession). */
object GraftFunctions {
  private[functions] val builders
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("t_pvalue", classOf[TTestPValue],
      (args: Seq[Expression]) => TTestPValue(args(0), args(1))),
    ("chi2_pvalue", classOf[Chi2PValue],
      (args: Seq[Expression]) => Chi2PValue(args(0), args(1))),
    ("f_pvalue", classOf[FPValue],
      (args: Seq[Expression]) => FPValue(args(0), args(1), args(2))),
    ("dot_double", classOf[DotProductD],
      (args: Seq[Expression]) => DotProductD(args(0), args(1))),
    ("sqdist_double", classOf[SquaredDistanceD],
      (args: Seq[Expression]) => SquaredDistanceD(args(0), args(1))),
    ("simhash_pack", classOf[SimHashPack],
      (args: Seq[Expression]) => SimHashPack(args(0))),
    ("minhash_sig", classOf[MinHashSig],
      (args: Seq[Expression]) => MinHashSig(args(0), args(1))))

  /** Registers each function under graft's own `ExpressionInfo` (the
    * info [[GraftExtensions]] injects). A name whose registered info
    * already names graft's class is left alone, so a repeat call does
    * not re-register (Spark logs a WARN per replaced function), while a
    * foreign function of the same name is still replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, cls, b) =>
      val id = FunctionIdentifier(name)
      if (!registry.lookupFunction(id).exists(_.getClassName == cls.getName))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), b)
    }
  }
}

/** `spark.sql.extensions` entry point: every session built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * gets the functions without any imperative registration — the same
  * builder list as [[GraftFunctions.register]], so the two routes can
  * never drift (the array kernels used to be register-only). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, cls, b) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b))
    }
  }
}
