package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the dot product of two double
  * arrays — the hot scalar of the embedding operators (cosine near-dup
  * and top-k search score millions of pairs × 64 dims).
  *
  * A `aggregate(zip_with(a, b, ...))` higher-order-function chain
  * computes the same value but runs interpreted, one boxed lambda call
  * per element; this expression participates in whole-stage codegen as
  * a tight primitive loop (~50× less per-pair overhead measured at
  * sf0.1).  Accumulation order is left-to-right, identical to the
  * HOF fold and to the DuckDB oracle's `list_reduce`, so results are
  * bit-identical and hash-parity is preserved.
  *
  * Null handling: null array → null result; elements are assumed
  * non-null (embedding vectors), matching the HOF fold's behavior on
  * the fixture schema.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** graft's native SQL functions, which `GraftExtensions` injects into
  * every session `GraftSession.build` makes. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** Every native function the library exposes, with its builder.
    * The bloom pair wraps expressions Spark ships for its own runtime
    * row-level filtering but keeps out of the public registry; they
    * power the bloom-prefilter pattern (RelationalExt.qBloomSemiJoin). */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct],
      es => DotProduct(es.head, es(1))),
    ("graft_tokens", classOf[GraftTokens],
      es => GraftTokens(es.head)),
    ("graft_h60", classOf[GraftH60],
      es => GraftH60(es.head)),
    ("graft_simhash", classOf[GraftSimHash],
      es => GraftSimHash(es.head)),
    ("graft_shingles3", classOf[GraftShingles3],
      es => GraftShingles3(es.head)),
    ("graft_minhash", classOf[GraftMinHash],
      es => GraftMinHash(es.head)),
    ("graft_top_cids", classOf[GraftTopCids],
      es => GraftTopCids(es(0), es(1), es(2), es(3), es(4), es(5))),
    ("graft_bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      es => org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head, es(1), es(2), 0, 0)),
    ("graft_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      es => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es.head, es(1))))
}
