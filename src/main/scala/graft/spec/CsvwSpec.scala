package graft.spec

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Declarative mapping descriptor — the engine's "query language".
  *
  * Models the CSVW/JSON-LD metadata vocabulary the reference's engine
  * consumes (reference: descriptor built at src/cattle.py:206-209,
  * edited by the Ruminator UI whose form fields enumerate the
  * per-column vocabulary — name/datatype/lang/propertyUrl/valueUrl
  * src/templates/ruminator.html:114-140; aboutUrl/csvw:value/virtual
  * ruminator.html:145-180; dialect keys ruminator.js:288-290).
  *
  * The descriptor is parsed ONCE on the driver into these case classes
  * and compiled by [[graft.rules.RuleCompiler]] into Catalyst `Column`
  * trees — the descriptor IS the query-plan source (SURVEY.md §1.1).
  *
  * Generalization for webtext (north rule): a table-level `extractors`
  * map (field → regex with one capture group) lifts fields out of a
  * page's extracted `text`, playing the role CSV columns play in the
  * reference. Builtin fields `url` and `lang` are always available.
  */
final case class Dialect(
    delimiter: String = ",",
    quoteChar: String = "\"",
    encoding: String = "UTF-8"
)

final case class ColumnSpec(
    name: String,
    virtual: Boolean = false,
    aboutUrl: Option[String] = None,
    propertyUrl: Option[String] = None,
    valueUrl: Option[String] = None,
    csvwValue: Option[String] = None,
    datatype: Option[String] = None,
    /** CSVW derived-datatype object form `{"base": ..., "format": ...}`
      * (open descriptor vocabulary — the reference round-trips any
      * datatype value, ruminator.js:341-352): the cell is parsed with
      * `format` (Unicode date-pattern family, which is also Spark's)
      * and emitted in the XSD type's CANONICAL lexical form.
      */
    datatypeFormat: Option[String] = None,
    lang: Option[String] = None,
    nullValues: Seq[String] = Seq(""),
    default: Option[String] = None,
    separator: Option[String] = None,
    transforms: Seq[String] = Nil
)

final case class TableSpec(
    base: String,
    aboutUrl: String,
    prefixes: Map[String, String],
    graph: String,
    dialect: Dialect = Dialect(),
    extractors: Seq[(String, String)] = Nil,
    columns: Seq[ColumnSpec] = Nil
) {

  /** Expand `prefix:rest` via the prefix map; pass through absolute
    * IRIs and templates. Unprefixed datatype names get `xsd:`
    * (auto-prefixing per ruminator.js:337-340).
    */
  def expand(iri: String): String = {
    val i = iri.indexOf(':')
    if (i <= 0) iri
    else {
      val p = iri.substring(0, i)
      prefixes.get(p) match {
        case Some(ns) => ns + iri.substring(i + 1)
        case None     => iri
      }
    }
  }

  def datatypeIri(dt: String): String =
    if (dt.contains(":")) expand(dt)
    else TableSpec.XSD + dt
}

object TableSpec {
  val XSD = "http://www.w3.org/2001/XMLSchema#"
  val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  val defaultPrefixes: Map[String, String] = Map(
    "xsd" -> XSD,
    "rdf" -> RDF,
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "owl" -> "http://www.w3.org/2002/07/owl#",
    "dc" -> "http://purl.org/dc/terms/",
    "schema" -> "http://schema.org/",
    "prov" -> "http://www.w3.org/ns/prov#"
  )

  private val mapper = new ObjectMapper()

  private def optStr(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filter(!_.isNull).map(_.asText)

  /** N-Quads/Turtle `LANGTAG` without its `@`. */
  private val langTag = "[a-zA-Z]+(-[a-zA-Z0-9]+)*"

  /** Every serializer pastes a descriptor IRI raw between `<` and `>`,
    * so its static text (everything outside `{…}` references) must hold
    * no code point an N-Quads `IRIREF` forbids.
    */
  private def iri(owner: String)(v: String): String = {
    val bad = v.replaceAll("\\{[^{}]*\\}", "")
      .find(c => c <= ' ' || "<>\"{}|^`\\".indexOf(c) >= 0)
    require(bad.isEmpty,
      f"$owner: '$v' holds U+${bad.get.toInt}%04X, which an IRI cannot carry")
    v
  }

  /** Parse a JSON-LD-ish descriptor document. Open vocabulary: unknown
    * keys are ignored rather than rejected (the reference preserves
    * arbitrary extra keys, ruminator.js:358-360).
    */
  def fromJson(json: String): TableSpec = {
    val root = mapper.readTree(json)
    val prefixes = defaultPrefixes ++ Option(root.get("prefixes"))
      .map(p => p.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      .getOrElse(Map.empty)
    prefixes.foreach { case (p, ns) => iri(s"prefix '$p'")(ns) }
    val dialect = Option(root.get("dialect")).map { d =>
      Dialect(
        optStr(d, "delimiter").getOrElse(","),
        optStr(d, "quoteChar").getOrElse("\""),
        optStr(d, "encoding").getOrElse("UTF-8"))
    }.getOrElse(Dialect())
    val extractors = Option(root.get("extractors")).toSeq.flatMap { ex =>
      ex.properties().asScala.map(e => e.getKey -> e.getValue.asText).toSeq
    }
    val colsNode = Option(root.get("tableSchema")).flatMap(t => Option(t.get("columns")))
      .orElse(Option(root.get("columns")))
    val columns = colsNode.toSeq.flatMap(_.elements().asScala).map { c =>
      // datatype: plain string ("xsd:integer") or the derived-datatype
      // object form {"base": "date", "format": "dd/MM/yyyy"}
      val dtNode = Option(c.get("datatype")).filter(!_.isNull)
      val (dtBase, dtFormat) = dtNode match {
        case Some(d) if d.isObject => (optStr(d, "base"), optStr(d, "format"))
        case Some(d)               => (Some(d.asText), None)
        case None                  => (None, None)
      }
      val name = optStr(c, "name").getOrElse("")
      val lang = optStr(c, "lang")
      // pasted after `@` and into xml:lang="…" by every serializer
      lang.foreach(l => require(l.matches(langTag),
        s"column '$name': lang '$l' is not a language tag ($langTag)"))
      def iriField(f: String) = optStr(c, f).map(iri(s"column '$name': $f"))
      ColumnSpec(
        name = name,
        virtual = Option(c.get("virtual")).exists(_.asBoolean(false)),
        aboutUrl = iriField("aboutUrl"),
        propertyUrl = iriField("propertyUrl"),
        valueUrl = iriField("valueUrl"),
        csvwValue = optStr(c, "csvw:value").orElse(optStr(c, "value")),
        datatype = dtBase.map(iri(s"column '$name': datatype")),
        datatypeFormat = dtFormat,
        lang = lang,
        nullValues = Option(c.get("null")).map {
          case a if a.isArray => a.elements().asScala.map(_.asText).toSeq
          case v              => Seq(v.asText)
        }.getOrElse(Seq("")),
        default = optStr(c, "default"),
        separator = optStr(c, "separator"),
        transforms = Option(c.get("transforms")).toSeq
          .flatMap(_.elements().asScala).map(_.asText)
      )
    }
    TableSpec(
      base = iri("@base")(optStr(root, "@base").orElse(optStr(root, "base")).getOrElse("")),
      aboutUrl = iri("aboutUrl")(optStr(root, "aboutUrl").getOrElse("{url}")),
      prefixes = prefixes,
      graph = iri("graph")(optStr(root, "graph").getOrElse("http://graft.local/graph/default")),
      dialect = dialect,
      extractors = extractors,
      columns = columns
    )
  }

  /** Content hash of (descriptor, extraction semantics) — the job/rule
    * identity used in lineage rows, mirroring the reference's
    * content-addressed job identity (src/hash_folder.py:10-43) minus
    * its partial-read fallback (we hash exact bytes).
    */
  def ruleSetHash(json: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bytes = md.digest(
      (json + "|" + graft.extract.HtmlText.version)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    bytes.map("%02x".format(_)).mkString.take(16)
  }
}
