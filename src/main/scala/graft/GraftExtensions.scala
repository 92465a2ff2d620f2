package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, ExpressionInfo, Literal}

import graft.functions.{IsAlpha, IsDecimal, IsDigit, JavaHashCode, KeyValue, SplitIndex, TopWordRun}

/** Spark extensions entry point: the library's native expressions and
  * its SQL dialect ([[Sql.Parser]] around Spark's parser), for every
  * session built with it — `SessionFactory` installs it in code, any
  * other session via `spark.sql.extensions=graft.GraftExtensions` (the
  * same wiring any Spark-native library ships — no session-side
  * registration calls needed). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectParser((spark, delegate) => new Sql.Parser(spark, delegate))
  }
}

object GraftExtensions {

  private def arity(name: String, n: Int,
      build: Seq[Expression] => Expression)(children: Seq[Expression]): Expression = {
    if (children.length != n)
      throw new IllegalArgumentException(
        s"Function $name requires exactly $n argument(s), got ${children.length}")
    build(children)
  }

  def hashCodeBuilder(children: Seq[Expression]): Expression =
    arity("hash_code", 1, c => JavaHashCode(c.head))(children)

  def splitIndexBuilder(children: Seq[Expression]): Expression =
    arity("split_index", 3, c => SplitIndex(c(0), c(1), c(2)))(children)

  def keyValueBuilder(children: Seq[Expression]): Expression =
    arity("keyvalue", 4, c => KeyValue(c(0), c(1), c(2), c(3)))(children)

  // the SQL names keep the historical contract is_*(NULL) = false (the
  // pre-round-8 closure registrations evaluated `s != null && ...`);
  // the bare expressions are null-propagating for Column-API composition
  def isDecimalBuilder(children: Seq[Expression]): Expression =
    arity("is_decimal", 1,
      c => Coalesce(Seq(IsDecimal(c.head), Literal(false))))(children)

  def isDigitBuilder(children: Seq[Expression]): Expression =
    arity("is_digit", 1,
      c => Coalesce(Seq(IsDigit(c.head), Literal(false))))(children)

  def isAlphaBuilder(children: Seq[Expression]): Expression =
    arity("is_alpha", 1,
      c => Coalesce(Seq(IsAlpha(c.head), Literal(false))))(children)

  def topWordRunBuilder(children: Seq[Expression]): Expression =
    arity("top_word_run", 1, c => TopWordRun(c.head))(children)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("hash_code"),
      new ExpressionInfo(classOf[JavaHashCode].getName, "hash_code"),
      hashCodeBuilder _),
    (FunctionIdentifier("split_index"),
      new ExpressionInfo(classOf[SplitIndex].getName, "split_index"),
      splitIndexBuilder _),
    (FunctionIdentifier("keyvalue"),
      new ExpressionInfo(classOf[KeyValue].getName, "keyvalue"),
      keyValueBuilder _),
    (FunctionIdentifier("is_decimal"),
      new ExpressionInfo(classOf[IsDecimal].getName, "is_decimal"),
      isDecimalBuilder _),
    (FunctionIdentifier("is_digit"),
      new ExpressionInfo(classOf[IsDigit].getName, "is_digit"),
      isDigitBuilder _),
    (FunctionIdentifier("is_alpha"),
      new ExpressionInfo(classOf[IsAlpha].getName, "is_alpha"),
      isAlphaBuilder _),
    (FunctionIdentifier("top_word_run"),
      new ExpressionInfo(classOf[TopWordRun].getName, "top_word_run"),
      topWordRunBuilder _))
}
