package graft.rdf

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, struct}

/** RDF term — the rebuild of the reference's 5-variant `RdfNode` enum
  * (reference: src/lib.rs:21-28). A single case class (not a sealed
  * trait) so Spark's product encoder applies directly and a
  * `Dataset[Triple]` has a flat, codegen-friendly schema.
  *
  * kind ∈ {named, blank, raw, lang, typed}:
  *   named → value = IRI;          blank → value = blank-node id
  *   raw   → plain string literal; lang  → literal + language tag
  *   typed → literal + datatype IRI (datatype stays uninterpreted for
  *           parity with the reference, src/lib.rs:27)
  */
final case class RdfTerm(
    kind: String,
    value: String,
    lang: Option[String],
    datatype: Option[String]) {

  def isLiteral: Boolean = RdfTerm.LiteralKinds.contains(kind)

  /** N-Triples-ish rendering (used for diagnostics and sort keys). */
  def render: String = kind match {
    case "named" => s"<$value>"
    case "blank" => s"_:$value"
    case "raw"   => "\"" + value + "\""
    case "lang"  => "\"" + value + "\"@" + lang.getOrElse("")
    case "typed" => "\"" + value + "\"^^<" + datatype.getOrElse("") + ">"
    case _       => value
  }
}

object RdfTerm {
  val Named = "named"
  val Blank = "blank"
  val Raw   = "raw"
  val Lang  = "lang"
  val Typed = "typed"

  /** The kinds a literal pattern (`"x"`) and `isLiteral` accept. */
  val LiteralKinds: Seq[String] = Seq(Raw, Lang, Typed)

  /** A term as a column with exactly this class's encoder schema
    * (kind, value, lang, datatype), so `.as[Triple]` over a projection
    * of such columns is an analysis-time view. Null lang and datatype
    * default to a null string. */
  def column(kind: String, value: Column, lang: Column = nullString,
      datatype: Column = nullString): Column =
    struct(lit(kind).as("kind"), value.as("value"), lang.as("lang"), datatype.as("datatype"))

  private def nullString: Column = lit(null).cast("string")

  def named(iri: String): RdfTerm          = RdfTerm(Named, iri, None, None)
  def blank(id: String): RdfTerm           = RdfTerm(Blank, id, None, None)
  def raw(v: String): RdfTerm              = RdfTerm(Raw, v, None, None)
  def langLit(v: String, l: String): RdfTerm = RdfTerm(Lang, v, Some(l), None)
  def typedLit(v: String, dt: String): RdfTerm = RdfTerm(Typed, v, None, Some(dt))
}

/** One RDF triple in S/P/O order (reference: src/lib.rs:15-16). */
final case class Triple(s: RdfTerm, p: RdfTerm, o: RdfTerm)

object Rdf {
  val RdfNs  = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val TypeIri = RdfNs + "type"
}
