package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's kernels and aggregates as SQL functions, so
  * `spark.sql("SELECT minhash_signature(word_shingles(text)) ...")` works —
  * the full API surface is available from both the Column API and SQL.
  *
  * Wire up either via config
  * `spark.sql.extensions=graft.functions.GraftExtensions` or imperatively
  * with `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, owner, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(owner, name), builder))
    }
}

object GraftExtensions {

  /** Every [[Kernels]] entry under its SQL name, plus the aggregates: (SQL
    * name, the class that implements it, builder). The class is what
    * `DESCRIBE FUNCTION` reports — a kernel's `owner` object, an
    * aggregate's own class. */
  val registrations: Seq[(String, String, Seq[Expression] => Expression)] =
    Kernels.all.map(k => (k.name, k.owner.getName.stripSuffix("$"), k.expr _)) ++ Seq(
    // kmv aggregates: k must be a foldable int literal
    ("kmv_sketch", classOf[KmvSketch.KmvSketchAgg].getName, (exprs: Seq[Expression]) => {
      require(exprs.length <= 2, "kmv_sketch(hash_long[, k])")
      val k = if (exprs.length == 2) {
        require(exprs(1).foldable, "k must be a literal")
        exprs(1).eval().asInstanceOf[Number].intValue()
      } else 1024
      KmvSketch.KmvSketchAgg(exprs.head, k)
    }),
    ("kmv_merge", classOf[KmvSketch.KmvMergeAgg].getName,
      (exprs: Seq[Expression]) => KmvSketch.KmvMergeAgg(exprs.head)),
    // custom aggregate: the registry builder returns the AggregateFunction
    // itself; the analyzer wraps it. Percentiles must be a foldable literal
    // (scalar or array) — evaluated once at plan time.
    ("graft_quantile_sketch", classOf[QuantileSketch.QuantileSketchAgg].getName,
      (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        "graft_quantile_sketch(value, percentile | array(percentiles))")
      val pExpr = exprs(1)
      require(pExpr.foldable, "percentiles must be a literal")
      def toD(v: Any): Double = v match {
        case d: Double => d
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case f: Float => f.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case other => throw new IllegalArgumentException(
          s"percentile literal must be numeric, got $other")
      }
      val ps = (pExpr.eval(), pExpr.dataType) match {
        case (a: org.apache.spark.sql.catalyst.util.ArrayData,
            org.apache.spark.sql.types.ArrayType(et, _)) =>
          a.toObjectArray(et).map(toD).toSeq
        case (v, _) => Seq(toD(v))
      }
      QuantileSketch.QuantileSketchAgg(exprs.head, ps)
    }))

  /** Imperative registration on an existing session (tests, REPL). */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
