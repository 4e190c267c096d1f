package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.functions.CentroidDist2

class CentroidDist2Spec extends SparkTestBase {

  private val qRef = BoundReference(0, ArrayType(LongType, containsNull = true), nullable = true)
  private val cRef = BoundReference(1,
    ArrayType(ArrayType(LongType, containsNull = true), containsNull = true), nullable = true)
  private val kernel: Expression = CentroidDist2(qRef, cRef)
  private lazy val compiled = GenerateUnsafeProjection.generate(Seq(kernel))

  private type Vec = Seq[Option[Long]]

  private def arr(v: Vec): ArrayData =
    new GenericArrayData(v.map(_.map(Long.box).orNull).toArray[Any])

  private def row(q: Option[Vec], cents: Option[Seq[Option[Vec]]]): InternalRow =
    InternalRow(q.map(arr).orNull,
      cents.map(cs => new GenericArrayData(cs.map(_.map(arr).orNull).toArray[Any])).orNull)

  private def decode(a: ArrayData): Seq[Option[Long]] =
    (0 until a.numElements()).map(i => if (a.isNullAt(i)) None else Some(a.getLong(i)))

  private def interpreted(r: InternalRow): Option[Seq[Option[Long]]] =
    Option(kernel.eval(r)).map(a => decode(a.asInstanceOf[ArrayData]))

  private def codegen(r: InternalRow): Option[Seq[Option[Long]]] = {
    val out = compiled(r)
    if (out.isNullAt(0)) None else Some(decode(out.getArray(0)))
  }

  /** The exploded relational form: per centroid, SUM((q − c)²) over the
    * positions both sides have, null terms skipped, null when no term. */
  private def model(q: Option[Vec], cents: Option[Seq[Option[Vec]]]): Option[Seq[Option[Long]]] =
    for (qv <- q; cs <- cents) yield cs.map(_.flatMap { c =>
      val terms = qv.zip(c).collect { case (Some(x), Some(y)) => (x - y) * (x - y) }
      if (terms.isEmpty) None else Some(terms.sum)
    })

  private def check(q: Option[Vec], cents: Option[Seq[Option[Vec]]]): Option[Seq[Option[Long]]] = {
    val r = row(q, cents)
    val expected = model(q, cents)
    assert(interpreted(r) === expected, "interpreted path")
    assert(codegen(r) === expected, "codegen path")
    expected
  }

  private def some(xs: Long*): Vec = xs.map(Some(_))

  test("squared distances per centroid, in centroid order") {
    assert(check(Some(some(1, 2, 3)), Some(Seq(Some(some(1, 2, 3)), Some(some(0, 0, 0))))) ===
      Some(Seq(Some(0L), Some(14L))))
  }

  test("null elements on either side are skipped; an all-null overlap gives null") {
    val q = Some(Seq(Some(1L), None, Some(3L)))
    assert(check(q, Some(Seq(Some(Seq(Some(2L), Some(5L), None))))) === Some(Seq(Some(1L))))
    // every shared position has a null on one side
    assert(check(q, Some(Seq(Some(Seq(None, Some(5L), None))))) === Some(Seq(None)))
    assert(check(Some(Seq(None, None)), Some(Seq(Some(some(1, 2, 3)), Some(some(4))))) ===
      Some(Seq(None, None)))
    // a null centroid has no term at all
    assert(check(Some(some(1)), Some(Seq(None, Some(some(3))))) === Some(Seq(None, Some(4L))))
  }

  test("a null array gives null") {
    assert(check(None, Some(Seq(Some(some(1))))) === None)
    assert(check(Some(some(1)), None) === None)
  }

  test("ragged lengths fold over the shared prefix, in both directions") {
    val rnd = new scala.util.Random(11)
    val v64 = Seq.fill(64)(Some(rnd.nextInt(2000001).toLong - 1000000))
    val v3 = some(5, -7, 1000000)
    val short = check(Some(v3), Some(Seq(Some(v64), Some(v64.reverse))))
    val long = check(Some(v64), Some(Seq(Some(v3))))
    val prefix = v3.zip(v64).map { case (Some(a), Some(b)) => (a - b) * (a - b); case _ => 0L }.sum
    assert(short.get.head === Some(prefix))
    assert(long === Some(Seq(Some(prefix))))
  }

  test("an empty centroid list gives an empty array") {
    assert(check(Some(some(1, 2)), Some(Seq.empty)) === Some(Seq.empty))
    assert(check(Some(Seq.empty), Some(Seq(Some(some(1))))) === Some(Seq(None)))
  }

  test("codegen and interpreted paths agree with the model on random inputs") {
    val rnd = new scala.util.Random(23)
    def vec(): Vec = Seq.fill(1 + rnd.nextInt(70))(
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(2000001).toLong - 1000000))
    (1 to 200).foreach { _ =>
      check(Some(vec()), Some(Seq.fill(rnd.nextInt(9))(if (rnd.nextInt(20) == 0) None else Some(vec()))))
    }
  }

  test("graft_cent_dist2 registered for SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT graft_cent_dist2(array(1L, 2L, cast(null as bigint)),
        |                        array(array(0L, 0L, 9L), array(1L), array(cast(null as bigint)))) AS d""".stripMargin)
      .collect()(0).getSeq[java.lang.Long](0)
    assert(r === Seq[java.lang.Long](5L, 0L, null))
  }
}
