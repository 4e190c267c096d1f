package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd squared distances from one quantized vector to a small
  * set of centroids: `(qv array<bigint>, cents array<array<bigint>>)`
  * → `array<bigint>`, element j = Σ (q−c)² over the positions BOTH
  * `qv` and `cents[j]` have.
  *
  * The semantics are exactly those of the exploded relational form
  * `dims ⋈ cents ON dim GROUP BY (vec, j) SUM((qv − cval)²)` that the
  * integer Lloyd pipeline (VectorOps.kmeansParts) and its DuckDB
  * oracle share: a null term (a null element on either side) is
  * skipped like SUM skips it, and an element is null when every term
  * is null — including a null centroid or one with no shared position.
  * Arithmetic is plain wrapping int64, the non-ANSI `*` and SUM.
  * One pass per vector against a broadcast literal centroid list
  * replaces the (vector × dim × centroid) explode and its shuffles.
  * A null `qv` or `cents` array yields null. Registered for SQL as
  * `graft_cent_dist2` via GraftExtensions.
  */
case class CentroidDist2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<array<bigint>>) arguments, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cent_dist2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val cs = b.asInstanceOf[ArrayData]
    val k = cs.numElements()
    val out = UnsafeArrayData.createFreshArray(k, 8)
    var j = 0
    while (j < k) {
      if (cs.isNullAt(j)) out.setNullAt(j)
      else {
        val c = cs.getArray(j)
        val n = math.min(q.numElements(), c.numElements())
        var acc = 0L
        var any = false
        var i = 0
        while (i < n) {
          if (!q.isNullAt(i) && !c.isNullAt(i)) {
            val d = q.getLong(i) - c.getLong(i)
            acc += d * d
            any = true
          }
          i += 1
        }
        if (any) out.setLong(j, acc) else out.setNullAt(j)
      }
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, cs) => {
      val k = ctx.freshName("k")
      val nq = ctx.freshName("nq")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val any = ctx.freshName("any")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val unsafeArray = classOf[UnsafeArrayData].getName
      val arrayData = classOf[ArrayData].getName
      s"""
         |final int $k = $cs.numElements();
         |final int $nq = $q.numElements();
         |final $unsafeArray $out = $unsafeArray.createFreshArray($k, 8);
         |for (int $j = 0; $j < $k; $j++) {
         |  if ($cs.isNullAt($j)) { $out.setNullAt($j); continue; }
         |  final $arrayData $c = $cs.getArray($j);
         |  final int $n = Math.min($nq, $c.numElements());
         |  long $acc = 0L;
         |  boolean $any = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$q.isNullAt($i) && !$c.isNullAt($i)) {
         |      final long $d = $q.getLong($i) - $c.getLong($i);
         |      $acc += $d * $d;
         |      $any = true;
         |    }
         |  }
         |  if ($any) { $out.setLong($j, $acc); } else { $out.setNullAt($j); }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CentroidDist2 {
  /** Column-API entry point for the codegen'd centroid distances. */
  def centDist2(qv: Column, cents: Column): Column =
    ColumnBridge.column(CentroidDist2(
      ColumnBridge.expression(qv), ColumnBridge.expression(cents)))
}
