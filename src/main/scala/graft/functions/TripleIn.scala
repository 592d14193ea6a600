package graft.functions

import graft.rdf.{RdfTerm, Triple}
import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{ArrayType, DataType, NullType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `triple_in(s, p, o, delta)` — whether the triple `(s, p, o)` is one of
  * `delta`'s. Terms compare as `<=>` on their structs: all four fields
  * `(kind, value, lang, datatype)` match, null equal to null, so the IRI
  * `alice` and the literal `"alice"` stay distinct.
  *
  * Written in [[BloomMightContain]]'s pattern: `delta` must be FOLDABLE
  * (an array literal of `(s, p, o)` term structs); its hash sets build
  * once per operator instance, and the generated code reaches them
  * through a codegen reference object. The generated class is therefore
  * the same whatever the delta holds, so a growing delta recompiles
  * nothing, where an `IN` list of the same triples is a new class for
  * every list size.
  *
  * A row costs one hash probe of its subject's value; only a row whose
  * subject value is in the delta reads `p` and `o` for an exact probe of
  * the whole triple. Neither depends on the delta's size.
  *
  * [[graft.store.TripleStore]] applies its driver-side delta with it:
  * the snapshot scan drops the triples the delta touches, with no join,
  * exchange or extra job. */
case class TripleIn(s: Expression, p: Expression, o: Expression, delta: Expression)
    extends Expression with Predicate {

  require(delta.foldable, "triple_in: delta must be a literal")

  override def children: Seq[Expression] = Seq(s, p, o, delta)
  override def nullable: Boolean = false
  override def prettyName: String = "triple_in"

  override def checkInputDataTypes(): TypeCheckResult = {
    val term = Seq(s, p, o).find(e => !TripleIn.isTerm(e.dataType))
    term match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"triple_in: s, p and o must be (kind, value, lang, datatype) string structs, " +
          s"got ${e.dataType.sql}")
      case None => delta.dataType match {
        case ArrayType(st: StructType, _)
            if st.length == 3 && st.forall(f => TripleIn.isTerm(f.dataType)) =>
          TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"triple_in: delta must be an array of (s, p, o) term structs, got ${other.sql}")
      }
    }
  }

  @transient private lazy val probe =
    new TripleIn.Probe(delta.eval().asInstanceOf[ArrayData])

  /** Whether a row whose subject is `s` may be in the delta. */
  def subjectIn(s: InternalRow): Boolean = probe.subjectIn(s)

  /** Whether the triple is in the delta, once [[subjectIn]] held. */
  def tripleIn(s: InternalRow, p: InternalRow, o: InternalRow): Boolean =
    probe.tripleIn(s, p, o)

  override def eval(input: InternalRow): Any = {
    val sv = s.eval(input).asInstanceOf[InternalRow]
    subjectIn(sv) && tripleIn(sv,
      p.eval(input).asInstanceOf[InternalRow], o.eval(input).asInstanceOf[InternalRow])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tripleIn", this, classOf[TripleIn].getName)
    val Seq(sc, pc, oc) = Seq(s, p, o).map(_.genCode(ctx))
    def row(c: ExprCode): String = s"(${c.isNull} ? null : ${c.value})"
    val sRow = ctx.freshName("s")
    ev.copy(code = code"""
      ${sc.code}
      InternalRow $sRow = ${row(sc)};
      boolean ${ev.value} = false;
      if ($ref.subjectIn($sRow)) {
        ${pc.code}
        ${oc.code}
        ${ev.value} = $ref.tripleIn($sRow, ${row(pc)}, ${row(oc)});
      }""", isNull = FalseLiteral)
  }

  /** The delta prints as its size: it can hold thousands of triples, and
    * every plan string and SQL-execution event would carry them. */
  override def toString: String =
    s"$prettyName($s, $p, $o, ${delta.eval().asInstanceOf[ArrayData].numElements()} triples)"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TripleIn =
    copy(s = newChildren(0), p = newChildren(1), o = newChildren(2), delta = newChildren(3))
}

object TripleIn {
  /** An array literal's type for a list of triples. */
  private val DeltaType = ArrayType(Encoders.product[Triple].schema, containsNull = false)

  /** `triple_in(s, p, o, <ts>)` as a column, built without the session's
    * function registry, so it works on any session. */
  def column(s: String, p: String, o: String, ts: Seq[Triple]): Column =
    ExpressionColumn(TripleIn(UnresolvedAttribute.quoted(s), UnresolvedAttribute.quoted(p),
      UnresolvedAttribute.quoted(o), Literal(new GenericArrayData(ts.map(row)), DeltaType)))

  private def row(t: Triple): InternalRow = InternalRow(term(t.s), term(t.p), term(t.o))

  private def term(t: RdfTerm): InternalRow = InternalRow(UTF8String.fromString(t.kind),
    UTF8String.fromString(t.value), t.lang.map(UTF8String.fromString).orNull,
    t.datatype.map(UTF8String.fromString).orNull)

  /** A term struct: four string fields, read by position. */
  private def isTerm(dt: DataType): Boolean = dt match {
    case st: StructType =>
      st.length == 4 && st.forall(f => f.dataType == StringType || f.dataType == NullType)
    case _ => false
  }

  /** Stands for a null term in an exact key, which four null fields
    * (a non-null struct) must not equal. */
  private val NullTerm = new Object

  /** The delta's hash sets: its subjects' values, and its exact triples
    * as keys of their twelve fields. */
  private final class Probe(delta: ArrayData) {
    private val subjects = new java.util.HashSet[UTF8String]()
    private val triples = new java.util.HashSet[java.util.List[AnyRef]]()
    (0 until delta.numElements()).foreach { i =>
      val t = delta.getStruct(i, 3)
      val Seq(ts, tp, to) = (0 until 3).map(j => if (t.isNullAt(j)) null else t.getStruct(j, 4))
      subjects.add(value(ts))
      triples.add(key(ts, tp, to))
    }

    def subjectIn(s: InternalRow): Boolean = subjects.contains(value(s))

    def tripleIn(s: InternalRow, p: InternalRow, o: InternalRow): Boolean =
      triples.contains(key(s, p, o))

    private def value(t: InternalRow): UTF8String =
      if (t == null) null else t.getUTF8String(1)

    private def key(s: InternalRow, p: InternalRow, o: InternalRow): java.util.List[AnyRef] = {
      val k = new Array[AnyRef](12)
      Seq(s, p, o).zipWithIndex.foreach { case (t, j) =>
        (0 until 4).foreach { f =>
          k(4 * j + f) = if (t == null) NullTerm else if (t.isNullAt(f)) null else t.getUTF8String(f)
        }
      }
      java.util.Arrays.asList(k: _*)
    }
  }
}
