package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixtures
import graft.rules.RuleCompiler
import graft.run.{Descriptors, Pipeline}
import graft.spec.TableSpec

class RuleCompilerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def rowsToSet(rows: Array[Row]): Set[(String, String, String, String, String, String, String)] =
    rows.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4), r.getString(5), r.getString(6))).toSet

  test("golden triples: imf descriptor over the 8 reference records, P=R=1.0") {
    val ts = TableSpec.fromJson(Descriptors.imfJson)
    val pages = Fixtures.pages(spark, 8, 3)
    val records = RuleCompiler.extractFields(pages.toDF(), ts)
    val got = rowsToSet(RuleCompiler.triples(records, ts, ts.graph).collect())
    // mapping stage only: no mention triples yet
    val want = (0L until 8L).flatMap(i =>
      TestOracle.expected(i).filterNot(_._2 == TestOracle.MENTIONS)).toSet
    val missing = want -- got
    val spurious = got -- want
    assert(missing.isEmpty && spurious.isEmpty,
      s"missing=${missing.take(3)} spurious=${spurious.take(3)}")
  }

  test("digit-grouping normalization (the data/imf.csv:2 trap)") {
    val ts = TableSpec.fromJson(Descriptors.imfJson)
    val pages = Fixtures.pages(spark, 1, 1)
    val records = RuleCompiler.extractFields(pages.toDF(), ts)
    val lex = RuleCompiler.triples(records, ts, ts.graph)
      .filter($"p".endsWith("gdpPerCapita")).select("o_lex").as[String].collect()
    assert(lex.toSeq == Seq("131063")) // not "131,063"
  }

  test("percent-encoding: space → %20 (not +), '*' and '~' per RFC 3986") {
    val df = Seq(("a b", "x*y", "z~w")).toDF("sp", "st", "ti")
    val got = df.select(
      RuleCompiler.pctEncode($"sp"), RuleCompiler.pctEncode($"st"),
      RuleCompiler.pctEncode($"ti")).first()
    assert(got.getString(0) == "a%20b")
    assert(got.getString(1) == "x%2Ay")
    assert(got.getString(2) == "z~w")
    assert(RuleCompiler.pctEncodeStatic("a b*c~") == "a%20b%2Ac~")
  }

  test("null suppression, default substitution and separator fan-out") {
    val json =
      """{ "@base": "http://b/", "aboutUrl": "s/{id}",
        |  "graph": "http://g/",
        |  "columns": [
        |    { "name": "v", "propertyUrl": "http://p/v", "null": ["", "NA"] },
        |    { "name": "d", "propertyUrl": "http://p/d", "default": "dflt" },
        |    { "name": "m", "propertyUrl": "http://p/m", "separator": "|" }
        |  ]}""".stripMargin
    val ts = TableSpec.fromJson(json)
    val df = Seq(
      ("1", "NA", null.asInstanceOf[String], "a|b||c"),
      ("2", "ok", "x", null.asInstanceOf[String])
    ).toDF("id", "v", "d", "m")
    val got = rowsToSet(RuleCompiler.triples(df, ts, "http://g/").collect())
    val want = Set(
      // id=1: v suppressed (NA in null list), d defaults, m splits (empties dropped)
      ("http://b/s/1", "http://p/d", "literal", "dflt", null, null, "http://g/"),
      ("http://b/s/1", "http://p/m", "literal", "a", null, null, "http://g/"),
      ("http://b/s/1", "http://p/m", "literal", "b", null, null, "http://g/"),
      ("http://b/s/1", "http://p/m", "literal", "c", null, null, "http://g/"),
      // id=2: v kept, d kept (non-null), m suppressed (null, no default)
      ("http://b/s/2", "http://p/v", "literal", "ok", null, null, "http://g/"),
      ("http://b/s/2", "http://p/d", "literal", "x", null, null, "http://g/")
    )
    assert(got == want)
  }

  test("lang only applies to string datatypes (ruminator.js:200-208 gating)") {
    val json =
      """{ "@base": "http://b/", "aboutUrl": "s/{id}", "graph": "http://g/",
        |  "columns": [
        |    { "name": "a", "propertyUrl": "http://p/a", "datatype": "integer", "lang": "en" },
        |    { "name": "b", "propertyUrl": "http://p/b", "datatype": "string", "lang": "en" }
        |  ]}""".stripMargin
    val ts = TableSpec.fromJson(json)
    val df = Seq(("1", "5", "hi")).toDF("id", "a", "b")
    val got = rowsToSet(RuleCompiler.triples(df, ts, "http://g/").collect())
    assert(got == Set(
      ("http://b/s/1", "http://p/a", "literal", "5",
        "http://www.w3.org/2001/XMLSchema#integer", null, "http://g/"),
      ("http://b/s/1", "http://p/b", "literal", "hi", null, "en", "http://g/")))
  }

  test("descriptor lang must be a LANGTAG; the error names the column") {
    def desc(lang: String) =
      s"""{ "@base": "http://b/", "aboutUrl": "s/{id}", "graph": "http://g/",
         |  "columns": [ { "name": "label", "propertyUrl": "http://p/l", "lang": $lang } ]}""".stripMargin
    assert(TableSpec.fromJson(desc("\"en-GB\"")).columns.head.lang.contains("en-GB"))
    assert(TableSpec.fromJson(desc("\"x-1a2b\"")).columns.head.lang.contains("x-1a2b"))
    // a space or a quote would be pasted raw after `@` and into xml:lang
    for (bad <- Seq("\"en x\"", "\"en\\\"x\"", "\"\"", "\"en-\"", "\"-en\"", "\"e_n\"")) {
      val e = intercept[IllegalArgumentException](TableSpec.fromJson(desc(bad)))
      assert(e.getMessage.contains("column 'label'"), bad)
    }
  }

  test("descriptor IRI constants must be IRIREF-safe outside {refs}; the error names the column or key") {
    def desc(base: String = "http://b/", about: String = "s/{id}", graph: String = "http://g/",
        ns: String = "http://e/", col: String = """"propertyUrl": "ex:l""""): String =
      s"""{ "@base": "$base", "aboutUrl": "$about", "graph": "$graph", "prefixes": { "ex": "$ns" },
         |  "columns": [ { "name": "label", $col } ]}""".stripMargin
    // references may hold anything; the static text around them is checked
    val ok = TableSpec.fromJson(desc(col = """"aboutUrl": "{+url}", "valueUrl": "http://v/{a b}/x",
        "datatype": "xsd:string""""))
    assert(ok.columns.head.valueUrl.contains("http://v/{a b}/x"))
    val bad = Seq(
      desc(col = """"propertyUrl": "http://p/a b>c"""") -> "column 'label': propertyUrl",
      desc(col = """"valueUrl": "http://v/{id}|x"""") -> "column 'label': valueUrl",
      desc(col = """"aboutUrl": "http://s/{id}^"""") -> "column 'label': aboutUrl",
      desc(col = """"datatype": "xsd:int`eger"""") -> "column 'label': datatype",
      desc(col = """"valueUrl": "http://v/{id"""") -> "column 'label': valueUrl",
      desc(graph = "http://g/x y") -> "graph",
      desc(graph = "http://g/\\u0000") -> "graph",
      desc(base = "http://b/\\\\") -> "@base",
      desc(about = "s/{id}\\\"") -> "aboutUrl",
      desc(ns = "http://e/<x>") -> "prefix 'ex'")
    for ((json, owner) <- bad) {
      val e = intercept[IllegalArgumentException](TableSpec.fromJson(json))
      assert(e.getMessage.startsWith(s"requirement failed: $owner:"), e.getMessage)
    }
  }

  test("csvw:value templated literal (C4)") {
    val json =
      """{ "@base": "http://b/", "aboutUrl": "s/{id}", "graph": "http://g/",
        |  "columns": [
        |    { "name": "lbl", "virtual": true, "propertyUrl": "http://p/label",
        |      "csvw:value": "row {id}: {v}", "datatype": "string" }
        |  ]}""".stripMargin
    val ts = TableSpec.fromJson(json)
    val df = Seq(("7", "hello")).toDF("id", "v")
    val got = rowsToSet(RuleCompiler.triples(df, ts, "http://g/").collect())
    assert(got == Set(
      ("http://b/s/7", "http://p/label", "literal", "row 7: hello",
        "http://www.w3.org/2001/XMLSchema#string", null, "http://g/")))
  }

  test("datatype object form: declared format → XSD canonical lexical; malformed cell suppressed") {
    val json =
      """{ "@base": "http://b/", "aboutUrl": "s/{id}", "graph": "http://g/",
        |  "columns": [
        |    { "name": "d", "propertyUrl": "http://p/d",
        |      "datatype": { "base": "date", "format": "dd/MM/yyyy" } },
        |    { "name": "y", "propertyUrl": "http://p/y",
        |      "datatype": { "base": "gYear", "format": "yyyy" } }
        |  ]}""".stripMargin
    val ts = TableSpec.fromJson(json)
    // parse check: object form populates base + format
    assert(ts.columns.head.datatype.contains("date") &&
      ts.columns.head.datatypeFormat.contains("dd/MM/yyyy"))
    val df = Seq(
      ("1", "02/03/1996", "1996"),
      ("2", "not-a-date", "1997"), // invalid cell → the d triple is suppressed (C6)
      ("3", "31/12/2001", "2001")).toDF("id", "d", "y")
    val got = rowsToSet(RuleCompiler.triples(df, ts, "http://g/").collect())
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    assert(got == Set(
      ("http://b/s/1", "http://p/d", "literal", "1996-03-02", xsd + "date", null, "http://g/"),
      ("http://b/s/3", "http://p/d", "literal", "2001-12-31", xsd + "date", null, "http://g/"),
      ("http://b/s/1", "http://p/y", "literal", "1996", xsd + "gYear", null, "http://g/"),
      ("http://b/s/2", "http://p/y", "literal", "1997", xsd + "gYear", null, "http://g/"),
      ("http://b/s/3", "http://p/y", "literal", "2001", xsd + "gYear", null, "http://g/")))
  }

  test("nq line formatting + escaping") {
    import graft.emit.Serializer
    val df = Seq(
      ("http://s/1", "http://p/1", "iri", "http://o/1", null, null, "http://g/"),
      ("http://s/1", "http://p/2", "literal", "a\"b\\c\nd", null, "en", "http://g/"),
      ("http://s/1", "http://p/3", "literal", "42",
        "http://www.w3.org/2001/XMLSchema#integer", null, "http://g/"),
      ("http://s/1", "http://p/4", "literal", "plain", null, null, "http://g/")
    ).toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
    val got = df.select(Serializer.nqLine.as("l")).as[String].collect().toSet
    assert(got == Set(
      "<http://s/1> <http://p/1> <http://o/1> <http://g/> .",
      "<http://s/1> <http://p/2> \"a\\\"b\\\\c\\nd\"@en <http://g/> .",
      "<http://s/1> <http://p/3> \"42\"^^<http://www.w3.org/2001/XMLSchema#integer> <http://g/> .",
      "<http://s/1> <http://p/4> \"plain\" <http://g/> ."))
  }
}
