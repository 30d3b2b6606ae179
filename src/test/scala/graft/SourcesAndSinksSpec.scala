package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.emit.Serializer
import graft.fixtures.Fixtures
import graft.rules.RuleCompiler
import graft.sources.CsvSource
import graft.spec.{Dialect, TableSpec}
import graft.streaming.EventStream

/** Specs for the delimited-text source + build-mode inference (S1/S2/
  * B1/C1), the 9-format serialization matrix (K2/K3/K4) and the
  * Structured Streaming wrappers.
  */
class SourcesAndSinksSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The reference fixture re-synthesized from Fixtures.imf
    * (data/imf.csv: `Rank;Country;Int` header, `;` delimiter,
    * digit-grouped numerics).
    */
  def imfCsvPath(): String = {
    val lines = "Rank;Country;Int" +: Fixtures.imf.map { case (r, c, g) =>
      s"$r;$c;${Fixtures.grouped(g)}"
    }
    val f = java.nio.file.Paths.get(TestSpark.tempDir("imf"), "imf.csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("S2: dialect-aware CSV read keeps cells lexical (all strings)") {
    val df = CsvSource.read(spark, imfCsvPath(), Dialect(delimiter = ";"))
    assert(df.columns.toSeq == Seq("Rank", "Country", "Int"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 8)
    val row = df.filter(col("Country") === "Qatar").head()
    assert(row.getString(2) == "131,063") // grouping preserved, not cast
  }

  test("B1: build-mode inference detects integer columns incl. digit grouping") {
    val df = CsvSource.read(spark, imfCsvPath(), Dialect(delimiter = ";"))
    val json = CsvSource.inferDescriptor(df, "http://graft.local/imf/",
      dialect = Dialect(delimiter = ";"))
    val ts = TableSpec.fromJson(json)
    assert(ts.columns.map(_.name) == Seq("Rank", "Country", "Int"))
    val byName = ts.columns.map(c => c.name -> c).toMap
    assert(byName("Rank").datatype.contains("xsd:integer"))
    assert(byName("Int").datatype.contains("xsd:integer"))
    assert(byName("Int").transforms == Seq("strip-grouping"))
    assert(byName("Country").datatype.isEmpty)
    assert(ts.dialect.delimiter == ";")
  }

  test("C1 + end-to-end: inferred descriptor converts the csv to triples") {
    val df = CsvSource.withRowNum(
      CsvSource.read(spark, imfCsvPath(), Dialect(delimiter = ";")))
    val ts = TableSpec.fromJson(CsvSource.inferDescriptor(
      df.drop("_row"), "http://graft.local/imf/"))
    val triples = RuleCompiler.triples(df, ts, ts.graph)
    val got = triples.collect()
    assert(got.length == 24) // 8 rows x 3 columns
    val qatarRank = got.find(r =>
      r.getAs[String]("s") == "http://graft.local/imf/row/1" &&
      r.getAs[String]("p") == "http://graft.local/imf/vocab/Rank").get
    assert(qatarRank.getAs[String]("o_lex") == "1")
    val qatarGdp = got.find(r =>
      r.getAs[String]("s") == "http://graft.local/imf/row/1" &&
      r.getAs[String]("p") == "http://graft.local/imf/vocab/Int").get
    assert(qatarGdp.getAs[String]("o_lex") == "131063") // grouping stripped
    assert(qatarGdp.getAs[String]("o_datatype") ==
      "http://www.w3.org/2001/XMLSchema#integer")
  }

  test("S1 web: PageStore bucketed round-trip + bucket-pruned read") {
    val dir = TestSpark.tempDir("pagestore") + "/pages"
    val pages = Fixtures.pages(spark, 40, 4)
    graft.sources.PageStore.write(pages, dir, nBuckets = 8)
    val back = graft.sources.PageStore.read(spark, dir)
    assert(back.collect().map(_.url).sorted.toSeq ==
      pages.collect().map(_.url).sorted.toSeq)
    val some = graft.sources.PageStore.readBuckets(spark, dir, Seq(0, 1, 2))
    val expected = pages.toDF()
      .filter(pmod(xxhash64(col("url")), lit(8)) < 3).count()
    assert(some.count() == expected && some.count() < 40)
  }

  // ---------- serialization matrix ----------

  def sampleTriples() = Seq(
    ("http://g/s1", "http://g/p1", "literal", "va\"l1", null, "en", "http://g/g1"),
    ("http://g/s1", "http://g/p2", "iri", "http://g/o1", null, null, "http://g/g1"),
    ("http://g/s2", "http://g/p1", "literal", "12",
      "http://www.w3.org/2001/XMLSchema#integer", null, "http://g/g2"),
    ("http://g/s2", "http://g/p1", "literal", "12",
      "http://www.w3.org/2001/XMLSchema#integer", null, "http://g/g2") // dup
  ).toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")

  def readText(dir: String): Seq[String] =
    spark.read.text(dir).as[String].collect().toSeq

  test("K2: distributed sinks — nt, turtle, trig group and escape correctly") {
    val base = TestSpark.tempDir("ser")
    Serializer.write(sampleTriples(), s"$base/nt", "nt")
    val nt = readText(s"$base/nt")
    assert(nt.length == 3) // deduped, graph dropped
    assert(nt.exists(_.contains("\"va\\\"l1\"@en")))

    Serializer.write(sampleTriples(), s"$base/ttl", "turtle")
    val ttl = readText(s"$base/ttl").mkString("\n")
    assert(ttl.contains("<http://g/s1>\n    <http://g/p1> \"va\\\"l1\"@en ;\n    <http://g/p2> <http://g/o1> ."))
    assert(ttl.contains("^^<http://www.w3.org/2001/XMLSchema#integer>"))

    Serializer.write(sampleTriples(), s"$base/trig", "trig")
    val trig = readText(s"$base/trig").mkString("\n")
    assert(trig.contains("<http://g/g1> {"))
    assert(trig.contains("<http://g/g2> {"))
  }

  /** [[sampleTriples]] plus adversarial rows: a literal holding
    * backslash, quote, newline and tab; a region-subtagged language
    * tag; a typed literal; IRI objects in and out of the prefix
    * namespace; one triple repeated in a second graph (the triple
    * formats keep it once, the quad formats twice).
    */
  def goldenTriples() = sampleTriples().union(Seq(
    ("http://g/s3", "http://g/p3", "literal", "a\\b\"c\nd\te", null: String, null: String, "http://g/g1"),
    ("http://g/s3", "http://g/p4", "literal", "bonjour", null: String, "fr-BE", "http://g/g2"),
    ("http://g/s3", "http://g/p5", "literal", "2024-01-31",
      "http://www.w3.org/2001/XMLSchema#date", null: String, "http://g/g2"),
    ("http://g/s3", "http://g/p2", "iri", "http://other/o2", null: String, null: String, "http://g/g2"),
    ("http://g/s1", "http://g/p2", "iri", "http://g/o1", null: String, null: String, "http://g/g2")
  ).toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g"))

  test("K2: golden bytes of every format (distributed parts as sorted lines, documents whole)") {
    val base = TestSpark.tempDir("sergolden")
    val pfx = Map("g" -> "http://g/", "xsd" -> "http://www.w3.org/2001/XMLSchema#")
    val ttl = Seq(
      "    <http://g/p1> \"12\"^^<http://www.w3.org/2001/XMLSchema#integer> .",
      "    <http://g/p1> \"va\\\"l1\"@en ;",
      "    <http://g/p2> <http://g/o1> .",
      "    <http://g/p2> <http://other/o2> ;",
      "    <http://g/p3> \"a\\\\b\\\"c\\nd\\te\" ;",
      "    <http://g/p4> \"bonjour\"@fr-BE ;",
      "    <http://g/p5> \"2024-01-31\"^^<http://www.w3.org/2001/XMLSchema#date> .",
      "<http://g/s1>",
      "<http://g/s2>",
      "<http://g/s3>")
    val lines: Map[String, Seq[String]] = Map(
      "nquads" -> Seq(
        "<http://g/s1> <http://g/p1> \"va\\\"l1\"@en <http://g/g1> .",
        "<http://g/s1> <http://g/p2> <http://g/o1> <http://g/g1> .",
        "<http://g/s1> <http://g/p2> <http://g/o1> <http://g/g2> .",
        "<http://g/s2> <http://g/p1> \"12\"^^<http://www.w3.org/2001/XMLSchema#integer> <http://g/g2> .",
        "<http://g/s3> <http://g/p2> <http://other/o2> <http://g/g2> .",
        "<http://g/s3> <http://g/p3> \"a\\\\b\\\"c\\nd\\te\" <http://g/g1> .",
        "<http://g/s3> <http://g/p4> \"bonjour\"@fr-BE <http://g/g2> .",
        "<http://g/s3> <http://g/p5> \"2024-01-31\"^^<http://www.w3.org/2001/XMLSchema#date> <http://g/g2> ."),
      "nt" -> Seq(
        "<http://g/s1> <http://g/p1> \"va\\\"l1\"@en .",
        "<http://g/s1> <http://g/p2> <http://g/o1> .",
        "<http://g/s2> <http://g/p1> \"12\"^^<http://www.w3.org/2001/XMLSchema#integer> .",
        "<http://g/s3> <http://g/p2> <http://other/o2> .",
        "<http://g/s3> <http://g/p3> \"a\\\\b\\\"c\\nd\\te\" .",
        "<http://g/s3> <http://g/p4> \"bonjour\"@fr-BE .",
        "<http://g/s3> <http://g/p5> \"2024-01-31\"^^<http://www.w3.org/2001/XMLSchema#date> ."),
      "turtle" -> ttl,
      "n3" -> ttl,
      "trig" -> Seq(
        "  <http://g/s1> <http://g/p1> \"va\\\"l1\"@en .",
        "  <http://g/s1> <http://g/p2> <http://g/o1> .",
        "  <http://g/s1> <http://g/p2> <http://g/o1> .",
        "  <http://g/s2> <http://g/p1> \"12\"^^<http://www.w3.org/2001/XMLSchema#integer> .",
        "  <http://g/s3> <http://g/p2> <http://other/o2> .",
        "  <http://g/s3> <http://g/p3> \"a\\\\b\\\"c\\nd\\te\" .",
        "  <http://g/s3> <http://g/p4> \"bonjour\"@fr-BE .",
        "  <http://g/s3> <http://g/p5> \"2024-01-31\"^^<http://www.w3.org/2001/XMLSchema#date> .",
        "<http://g/g1> {",
        "<http://g/g2> {",
        "}",
        "}"))
    for ((f, want) <- lines) {
      Serializer.write(goldenTriples(), s"$base/$f", f)
      assert(readText(s"$base/$f").sorted == want, f)
    }
    Serializer.writeTurtle(goldenTriples(), s"$base/ttlp", prefixes = pfx)
    assert(readText(s"$base/ttlp").sorted == Seq(
      "    g:p1 \"12\"^^xsd:integer .",
      "    g:p1 \"va\\\"l1\"@en ;",
      "    g:p2 <http://other/o2> ;",
      "    g:p2 g:o1 .",
      "    g:p3 \"a\\\\b\\\"c\\nd\\te\" ;",
      "    g:p4 \"bonjour\"@fr-BE ;",
      "    g:p5 \"2024-01-31\"^^xsd:date .",
      "@prefix g: <http://g/> .",
      "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
      "g:s1",
      "g:s2",
      "g:s3"))
    Serializer.writeTrig(goldenTriples(), s"$base/trigp", prefixes = pfx)
    assert(readText(s"$base/trigp").sorted == Seq(
      "  g:s1 g:p1 \"va\\\"l1\"@en .",
      "  g:s1 g:p2 g:o1 .",
      "  g:s1 g:p2 g:o1 .",
      "  g:s2 g:p1 \"12\"^^xsd:integer .",
      "  g:s3 g:p2 <http://other/o2> .",
      "  g:s3 g:p3 \"a\\\\b\\\"c\\nd\\te\" .",
      "  g:s3 g:p4 \"bonjour\"@fr-BE .",
      "  g:s3 g:p5 \"2024-01-31\"^^xsd:date .",
      "@prefix g: <http://g/> .",
      "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
      "g:g1 {",
      "g:g2 {",
      "}",
      "}"))

    val docs: Map[String, Seq[String]] = Map(
      "rdfxml" -> Seq(
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
        "<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\">",
        "  <rdf:Description rdf:about=\"http://g/s1\">",
        "    <p1 xmlns=\"http://g/\" xml:lang=\"en\">va&quot;l1</p1>",
        "  </rdf:Description>",
        "  <rdf:Description rdf:about=\"http://g/s1\">",
        "    <p2 xmlns=\"http://g/\" rdf:resource=\"http://g/o1\"/>",
        "  </rdf:Description>",
        "  <rdf:Description rdf:about=\"http://g/s2\">",
        "    <p1 xmlns=\"http://g/\" rdf:datatype=\"http://www.w3.org/2001/XMLSchema#integer\">12</p1>",
        "  </rdf:Description>",
        "  <rdf:Description rdf:about=\"http://g/s3\">",
        "    <p3 xmlns=\"http://g/\">a\\b&quot;c",
        "d\te</p3>",
        "  </rdf:Description>",
        "  <rdf:Description rdf:about=\"http://g/s3\">",
        "    <p4 xmlns=\"http://g/\" xml:lang=\"fr-BE\">bonjour</p4>",
        "  </rdf:Description>",
        "  <rdf:Description rdf:about=\"http://g/s3\">",
        "    <p5 xmlns=\"http://g/\" rdf:datatype=\"http://www.w3.org/2001/XMLSchema#date\">2024-01-31</p5>",
        "  </rdf:Description>",
        "  <rdf:Description rdf:about=\"http://g/s3\">",
        "    <p2 xmlns=\"http://g/\" rdf:resource=\"http://other/o2\"/>",
        "  </rdf:Description>",
        "  <rdf:Description rdf:about=\"http://g/s1\">",
        "    <p2 xmlns=\"http://g/\" rdf:resource=\"http://g/o1\"/>",
        "  </rdf:Description>",
        "</rdf:RDF>",
        ""),
      "trix" -> Seq(
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
        "<TriX xmlns=\"http://www.w3.org/2004/03/trix/trix-1/\">",
        "  <graph>",
        "    <uri>http://g/g1</uri>",
        "    <triple>",
        "      <uri>http://g/s1</uri>",
        "      <uri>http://g/p1</uri>",
        "      <plainLiteral xml:lang=\"en\">va&quot;l1</plainLiteral>",
        "    </triple>",
        "    <triple>",
        "      <uri>http://g/s1</uri>",
        "      <uri>http://g/p2</uri>",
        "      <uri>http://g/o1</uri>",
        "    </triple>",
        "    <triple>",
        "      <uri>http://g/s3</uri>",
        "      <uri>http://g/p3</uri>",
        "      <plainLiteral>a\\b&quot;c",
        "d\te</plainLiteral>",
        "    </triple>",
        "  </graph>",
        "  <graph>",
        "    <uri>http://g/g2</uri>",
        "    <triple>",
        "      <uri>http://g/s2</uri>",
        "      <uri>http://g/p1</uri>",
        "      <typedLiteral datatype=\"http://www.w3.org/2001/XMLSchema#integer\">12</typedLiteral>",
        "    </triple>",
        "    <triple>",
        "      <uri>http://g/s3</uri>",
        "      <uri>http://g/p4</uri>",
        "      <plainLiteral xml:lang=\"fr-BE\">bonjour</plainLiteral>",
        "    </triple>",
        "    <triple>",
        "      <uri>http://g/s3</uri>",
        "      <uri>http://g/p5</uri>",
        "      <typedLiteral datatype=\"http://www.w3.org/2001/XMLSchema#date\">2024-01-31</typedLiteral>",
        "    </triple>",
        "    <triple>",
        "      <uri>http://g/s3</uri>",
        "      <uri>http://g/p2</uri>",
        "      <uri>http://other/o2</uri>",
        "    </triple>",
        "    <triple>",
        "      <uri>http://g/s1</uri>",
        "      <uri>http://g/p2</uri>",
        "      <uri>http://g/o1</uri>",
        "    </triple>",
        "  </graph>",
        "</TriX>",
        ""),
      "json-ld" -> Seq(
        "[{\"@id\": \"http://g/g1\", \"@graph\": [{\"@id\": \"http://g/s1\", \"http://g/p1\": [{\"@value\": \"va\\\"l1\", \"@language\": \"en\"}], \"http://g/p2\": [{\"@id\": \"http://g/o1\"}]}, {\"@id\": \"http://g/s3\", \"http://g/p3\": [{\"@value\": \"a\\\\b\\\"c\\nd\\te\"}]}]}, {\"@id\": \"http://g/g2\", \"@graph\": [{\"@id\": \"http://g/s1\", \"http://g/p2\": [{\"@id\": \"http://g/o1\"}]}, {\"@id\": \"http://g/s2\", \"http://g/p1\": [{\"@value\": \"12\", \"@type\": \"http://www.w3.org/2001/XMLSchema#integer\"}]}, {\"@id\": \"http://g/s3\", \"http://g/p2\": [{\"@id\": \"http://other/o2\"}], \"http://g/p4\": [{\"@value\": \"bonjour\", \"@language\": \"fr-BE\"}], \"http://g/p5\": [{\"@value\": \"2024-01-31\", \"@type\": \"http://www.w3.org/2001/XMLSchema#date\"}]}]}]"))
    for ((f, want) <- docs + ("xml" -> docs("rdfxml"))) {
      Serializer.write(goldenTriples(), s"$base/doc.$f", f)
      assert(Files.readString(java.nio.file.Paths.get(s"$base/doc.$f")) == want.mkString("\n"), f)
    }
  }

  test("K2: turtle/trig @prefix compaction — directives per part, safe PN_LOCAL fallback") {
    val base = TestSpark.tempDir("serp")
    val pfx = Map("g" -> "http://g/", "xsd" -> "http://www.w3.org/2001/XMLSchema#")
    Serializer.writeTurtle(sampleTriples(), s"$base/ttl", prefixes = pfx)
    val ttl = readText(s"$base/ttl").mkString("\n")
    assert(ttl.contains("@prefix g: <http://g/> ."))
    assert(ttl.contains("g:s1\n    g:p1 \"va\\\"l1\"@en ;\n    g:p2 g:o1 ."))
    assert(ttl.contains("\"12\"^^xsd:integer"))
    assert(!ttl.contains("<http://g/s1>")) // everything in-namespace compacts

    Serializer.writeTrig(sampleTriples(), s"$base/trig", prefixes = pfx)
    val trig = readText(s"$base/trig").mkString("\n")
    assert(trig.contains("@prefix g: <http://g/> ."))
    assert(trig.contains("g:g1 {") && trig.contains("g:g2 {"))

    // an IRI whose local part is not a safe PN_LOCAL stays full
    val tricky = Seq(
      ("http://g/a/b", "http://g/p1", "iri", "http://other/x", null, null, "http://g/g1"))
      .toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
    Serializer.writeTurtle(tricky, s"$base/ttl2", prefixes = pfx)
    val ttl2 = readText(s"$base/ttl2").mkString("\n")
    assert(ttl2.contains("<http://g/a/b>")) // 'a/b' is no PN_LOCAL
    assert(ttl2.contains("<http://other/x>")) // unregistered namespace
    // no-prefix default output is unchanged
    assert(Serializer.compactTerm("http://g/s1", Seq.empty) == "<http://g/s1>")
  }

  test("K2: driver-side document formats are well-formed and complete") {
    val xml = Serializer.toRdfXml(sampleTriples())
    assert(xml.startsWith("<?xml"))
    assert(xml.contains("rdf:about=\"http://g/s1\""))
    assert(xml.contains("rdf:resource=\"http://g/o1\""))
    assert(xml.contains("rdf:datatype=\"http://www.w3.org/2001/XMLSchema#integer\""))
    assert(scala.xml.XML.loadString(xml).label == "RDF")

    val trix = Serializer.toTrix(sampleTriples())
    assert(scala.xml.XML.loadString(trix).label == "TriX")
    assert(trix.contains("<uri>http://g/g1</uri>"))
    assert(trix.contains("xml:lang=\"en\""))

    val jsonld = Serializer.toJsonLd(sampleTriples())
    assert(jsonld.contains("\"@graph\""))
    assert(jsonld.contains("\"@language\": \"en\""))
    assert(jsonld.contains("\"@type\": \"http://www.w3.org/2001/XMLSchema#integer\""))
    // dedup applied: the duplicate integer triple appears once
    assert("\"@value\": \"12\"".r.findAllIn(jsonld).length == 1)
  }

  test("K2: XML documents keep a CR in a literal and reject characters XML 1.0 cannot carry") {
    def one(lex: String) = Seq(("http://g/s", "http://g/p", "literal", lex, null: String,
      null: String, "http://g/g")).toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
    val trix = scala.xml.XML.loadString(Serializer.toTrix(one("a\r\nb")))
    assert((trix \\ "plainLiteral").text == "a\r\nb")
    val rdf = scala.xml.XML.loadString(Serializer.toRdfXml(one("a\r\nb")))
    assert((rdf \\ "p").text == "a\r\nb")
    for (doc <- Seq[org.apache.spark.sql.DataFrame => String](Serializer.toTrix, Serializer.toRdfXml)) {
      val e = intercept[IllegalArgumentException](doc(one("a\u0001b")))
      assert(e.getMessage.contains("U+0001") && e.getMessage.contains("nquads"))
    }
  }

  test("K2: driver-side documents write through Hadoop FileSystem (file: URI path)") {
    val base = TestSpark.tempDir("serjsonld")
    Serializer.write(sampleTriples(), s"file:$base/out/g.jsonld", "json-ld")
    assert(Files.readString(java.nio.file.Paths.get(s"$base/out/g.jsonld")) ==
      Serializer.toJsonLd(sampleTriples()))
  }

  test("K2: a driver-side document overwrites an earlier distributed output at the same path") {
    val base = TestSpark.tempDir("seroverwrite")
    val out = s"$base/serialized"
    Serializer.write(sampleTriples(), out, "nquads")
    assert(new java.io.File(out).isDirectory)
    Serializer.write(sampleTriples(), out, "json-ld")
    assert(new java.io.File(out).isFile, "json-ld must replace the N-Quads directory")
    assert(Files.readString(java.nio.file.Paths.get(out)) == Serializer.toJsonLd(sampleTriples()))
  }

  test("K3/K4: gzip sink + content negotiation table") {
    val base = TestSpark.tempDir("sergz")
    Serializer.write(sampleTriples(), s"$base/nq", "nquads", gzip = true)
    val files = new java.io.File(s"$base/nq").listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".gz")))
    assert(readText(s"$base/nq").length == 3) // spark reads .gz transparently
    assert(Serializer.formatFor("text/turtle").contains("turtle"))
    assert(Serializer.formatFor("nonsense/mime").isEmpty)
    intercept[IllegalArgumentException] {
      Serializer.write(sampleTriples(), s"$base/x", "bogus")
    }
  }

  test("K4: format table mirrors the reference MIME/extension dicts verbatim") {
    // /root/reference/src/cattle.py:44-63 — 9 keys incl. the rdfxml
    // alias; trix is served as application/xml with an .xml extension
    assert(Serializer.formats.keySet == Set(
      "n3", "nquads", "nt", "rdfxml", "trig", "trix", "turtle", "xml", "json-ld"))
    assert(Serializer.formats("rdfxml") == "application/rdf+xml")
    assert(Serializer.formats("trix") == "application/xml")
    assert(Serializer.extensions("rdfxml") == ".rdf")
    assert(Serializer.extensions("trix") == ".xml")
    assert(Serializer.extensions("turtle") == ".ttl")
    // deterministic negotiation: rdf+xml resolves to 'xml' (table order),
    // application/xml to trix — stable across runs (ADVICE r1)
    assert(Serializer.formatFor("application/rdf+xml").contains("xml"))
    assert(Serializer.formatFor("application/xml").contains("trix"))
    // the alias also serializes
    val base = TestSpark.tempDir("serrdfxml")
    Serializer.write(sampleTriples(), s"$base/g.rdf", "rdfxml")
    assert(new java.io.File(s"$base/g.rdf").exists())
  }

  test("K2: RDF/XML QName split handles ':' and rejects unsplittable IRIs loudly") {
    assert(Serializer.qnameSplit("http://x/v#name").contains(("http://x/v#", "name")))
    assert(Serializer.qnameSplit("http://x/v/name").contains(("http://x/v/", "name")))
    assert(Serializer.qnameSplit("urn:graft:name").contains(("urn:graft:", "name")))
    assert(Serializer.qnameSplit("http://x/v/").isEmpty)   // trailing slash
    assert(Serializer.qnameSplit("urn:a:9bad").isEmpty)    // digit-leading local
    val bad = Seq(("http://g/s", "http://x/v/", "iri", "http://g/o", null: String,
      null: String, "http://g/g")).toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
    val e = intercept[IllegalArgumentException](Serializer.toRdfXml(bad))
    assert(e.getMessage.contains("QName"))
  }

  test("B1: inferred descriptor carries publisher/license stubs (editor round-trip)") {
    val df = CsvSource.read(spark, imfCsvPath(), Dialect(delimiter = ";"))
    val json = CsvSource.inferDescriptor(df, "http://graft.local/imf/",
      publisherName = "Graft", publisherUrl = "https://graft.local",
      license = "http://creativecommons.org/licenses/by/4.0/")
    // the exact paths ruminator.js reads/writes (:289-292,:396-416)
    assert(json.contains(""""dc:publisher": { "schema:name": "Graft", "schema:url": { "@id": "https://graft.local" } }"""))
    assert(json.contains(""""dc:license": { "@id": "http://creativecommons.org/licenses/by/4.0/" }"""))
    // still a valid descriptor for the compiler
    assert(TableSpec.fromJson(json).columns.nonEmpty)
  }

  // ---------- streaming ----------

  test("streaming: windowed counts over MemoryStream == batch result") {
    implicit val sqlCtx = spark.sqlContext
    val events = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 97000L),
        (i % 7).toLong, s"type${i % 3}", i * 1.5)
    }
    val batch = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = EventStream.windowedCounts(batch)
      .collect().map(_.toSeq).toSet

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStream.windowedCounts(
        stream.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("wincounts")
      .outputMode(OutputModeHelper.complete).start()
    try {
      stream.addData(events.take(120))
      q.processAllAvailable()
      stream.addData(events.drop(120))
      q.processAllAvailable()
      val got = spark.table("wincounts").collect().map(_.toSeq).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming: stream-static dim enrichment join == batch result (broadcast dim)") {
    // the classic enrichment shape: a streaming fact joined to the
    // SHARED static broadcast dimension (EventStream.tierDim) through
    // the SAME template the harness query q_stream_enrich runs in
    // batch — the replay below must converge to the batch twin's rows
    // (VERDICT round 4, item 7). The stream-static join is stateless
    // (no watermark needed on the dim side).
    implicit val sqlCtx = spark.sqlContext
    val dim = EventStream.tierDim(spark)
    val events = (0 until 150).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L),
        (i % 7).toLong, s"t${i % 2}", i * 2.0)
    }
    val batch = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = EventStream.tierEnriched(batch, dim).collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    // the dim side must enter as a broadcast, never a shuffle of the
    // fact stream
    val plan = EventStream.tierEnriched(batch, dim).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim join must broadcast:\n${plan.take(2000)}")

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStream.tierEnriched(
        stream.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"), dim)
      .writeStream.format("memory").queryName("dimjoin")
      .outputMode(OutputModeHelper.complete).start()
    try {
      stream.addData(events.take(80))
      q.processAllAvailable()
      stream.addData(events.drop(80))
      q.processAllAvailable()
      assert(spark.table("dimjoin").collect().map(_.toSeq).toSet == expected)
    } finally q.stop()
  }

  test("streaming: stream-stream interval join == batch twin under out-of-order arrival") {
    // both sides unbounded: purchases attribute to the same user's
    // views in the preceding hour. Feed the two MemoryStreams in
    // interleaved, deliberately out-of-order chunks — the appended
    // matches must converge to exactly the batch twin's row set
    // (VERDICT-pattern: same template, two faces).
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, user: Long, minute: Long) =
      (id, new java.sql.Timestamp(t0 + minute * 60000L), user, "x", 0.0)
    val views = (0 until 120).map(i => ev(1000L + i, i % 5, i))
    val purchases = (0 until 30).map(i => ev(2000L + i, i % 5, i * 4 + 2))
    def df(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = EventStream.attributionJoin(df(views), df(purchases))
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)

    val vs = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ps = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val joined = EventStream.attributionJoin(
      vs.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
      ps.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputModeHelper.append).start()
    try {
      // purchases arrive BEFORE their views, then views catch up, then
      // a late tail on both sides
      ps.addData(purchases.take(20))
      q.processAllAvailable()
      vs.addData(views.take(90))
      q.processAllAvailable()
      ps.addData(purchases.drop(20))
      vs.addData(views.drop(90))
      q.processAllAvailable()
      val got = spark.table("ssjoin").collect().map(_.toSeq).toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(3)} spurious=${(got -- expected).take(3)}")
    } finally q.stop()
  }

  test("streaming: stateful sessionization == batch lag-window formulation") {
    val events = (0 until 300).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + (i / 3) * 1000000L + i), // gaps
        (i % 5).toLong, "t", 1.0)
    }
    val batch = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    val viaState = EventStream.sessionizeBatch(spark, batch, gapSec = 300)
      .collect().map(u => (u.user_id, u.n_sessions, u.n_events)).toSet

    // independent formulation: lag window (the oracle-checked query shape)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val viaLag = batch
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("ind", when(col("prev").isNull || col("us") - col("prev") > 300000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("ind")).as("s"), count(lit(1)).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaState == viaLag)

    // the zero-buffering batch path and the flatMapGroupsWithState
    // update path agree with both (ADVICE r1: no whole-group toSeq)
    val viaBatch = EventStream.sessionizeBatch(spark, batch, gapSec = 300)
      .collect().map(u => (u.user_id, u.n_sessions, u.n_events)).toSet
    assert(viaBatch == viaLag)
    val viaUpdates = EventStream.sessionizeUpdates(spark, batch, gapSec = 300)
      .collect().map(u => (u.user_id, u.n_sessions, u.n_events)).toSet
    assert(viaUpdates == viaLag)
  }

  test("streaming: sessionizeUpdates accumulates correctly across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val events = (0 until 120).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + (i / 2) * 400000L),
        (i % 4).toLong, "t", 1.0)
    }
    val batch = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = EventStream.sessionizeBatch(spark, batch, gapSec = 300)
      .collect().map(u => (u.user_id, u.n_sessions, u.n_events)).toSet

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStream.sessionizeUpdates(spark,
        stream.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
        gapSec = 300)
      .writeStream.format("memory").queryName("sessupd")
      .outputMode(OutputModeHelper.update).start()
    try {
      // time-ordered batch split — state carries the session across
      stream.addData(events.take(70))
      q.processAllAvailable()
      stream.addData(events.drop(70))
      q.processAllAvailable()
      // latest update per user == final totals (event counts only grow,
      // so max-by-n_events is order-independent)
      val got = spark.table("sessupd").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._3) }.toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming: watermark drops exactly the rows the 2h bound implies (late-data correctness)") {
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000L
    val B = 1700002800000L // hour-aligned epoch ms
    def ev(id: Long, offMs: Long) =
      (id, new java.sql.Timestamp(B + offMs), 0L, "t", 1.0)

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStream.windowedCounts(
        stream.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
        windowLen = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("latewin")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // batch 1: two on-time events + one far-future event that pulls
      // the watermark to 10h15m - 2h = 8h15m
      stream.addData(Seq(ev(0, 30 * 60000L), ev(1, 90 * 60000L), ev(2, H * 10 + 15 * 60000L)))
      q.processAllAvailable()
      // batch 2 (watermark now 8h15m):
      //  - 45m event: window [0h,1h) ended long before the watermark -> MUST drop
      //  - 8h05m event: BEHIND the watermark, but its window [8h,9h)
      //    is still open (end 9h > 8h15m) -> MUST be counted
      //  - 10h20m on-time event joins the 10h window
      stream.addData(Seq(ev(3, 45 * 60000L), ev(4, H * 8 + 5 * 60000L), ev(5, H * 10 + 20 * 60000L)))
      q.processAllAvailable()
      // two advancing batches: watermark moves to 18h AFTER the first
      // processes, so the second's pass finalizes the 8h/10h windows
      stream.addData(Seq(ev(6, H * 20)))
      q.processAllAvailable()
      stream.addData(Seq(ev(7, H * 20 + 60000L)))
      q.processAllAvailable()

      val got = spark.table("latewin")
        .select(col("ws"), col("n")).collect()
        .map(r => (r.getTimestamp(0).getTime - B, r.getLong(1))).toSet
      // 0h window: 1 (the 45m row was dropped — a 2 here means the
      // watermark failed); 8h window: 1 (the behind-watermark-but-
      // in-bound row was kept — absence means over-dropping); the 20h
      // windows are still open and must NOT have been emitted
      assert(got == Set((0L, 1L), (H, 1L), (H * 8, 1L), (H * 10, 2L)), s"got $got")
    } finally q.stop()
  }

  test("streaming: multi-batch sessionizeUpdates replay converges to the q_events_sessions formulation") {
    implicit val sqlCtx = spark.sqlContext
    // the q_events_sessions shape verbatim: 30-min gap, lag-window oracle
    val events = (0 until 240).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + (i / 4) * 1200000L + (i % 4)),
        (i % 6).toLong, "t", 1.0)
    }
    val batch = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val expected = batch
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("ind",
        when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("ind")).as("s"), count(lit(1)).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStream.sessionizeUpdates(spark,
        stream.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
        gapSec = 1800)
      .writeStream.format("memory").queryName("sessreplay")
      .outputMode(OutputModeHelper.update).start()
    try {
      // three time-ordered micro-batches; sessions span the boundaries
      stream.addData(events.take(100)); q.processAllAvailable()
      stream.addData(events.slice(100, 170)); q.processAllAvailable()
      stream.addData(events.drop(170)); q.processAllAvailable()
      val got = spark.table("sessreplay").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._3) }.toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming: watermarked dedup drops re-delivered events across micro-batches, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, offMin: Long) =
      (id, new java.sql.Timestamp(1700002800000L + offMin * 60000L), 0L, "t", 1.0)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = EventStream.dedupedEvents(
        stream.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("dedupstream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      stream.addData(Seq(ev(1, 0), ev(2, 10), ev(3, 20)))
      q.processAllAvailable()
      // batch 2 re-delivers ids 2 and 3 (at-least-once source replay,
      // inside the 2h horizon) plus a genuinely new id 4
      stream.addData(Seq(ev(2, 11), ev(3, 20), ev(4, 30)))
      q.processAllAvailable()
      val got = spark.table("dedupstream")
        .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L, 4L), s"each event exactly once, got $got")
    } finally q.stop()
  }

  test("streaming: checkpointed file pipe resumes exactly-once across restarts") {
    val base = TestSpark.tempDir("filepipe")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    def events(r: Range) = r.map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
        (i % 5).toLong, if (i % 11 == 0) null else s"t${i % 3}", i * 0.7)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val schema = events(0 until 1).schema

    def drain(): Unit = {
      val q = EventStream.runFilePipe(spark, inDir, schema, outDir, ckDir)
      q.awaitTermination() // AvailableNow stops itself when drained
    }

    events(0 until 150).write.parquet(inDir) // run 1 input
    drain()
    val afterFirst = spark.read.parquet(outDir).count()

    events(150 until 400).write.mode("append").parquet(inDir) // late files
    drain() // RESTART from checkpoint: only the new files process
    drain() // idle restart: nothing new, output must not change

    val got = spark.read.parquet(outDir)
    val expected = EventStream.enriched(events(0 until 400))
    // exactly-once: no row lost, none duplicated, across two restarts
    assert(got.count() == expected.count())
    assert(afterFirst < got.count()) // both increments actually landed
    assert(got.collect().map(_.toSeq).sorted(RowSeqOrd) sameElements
      expected.collect().map(_.toSeq).sorted(RowSeqOrd))
  }

  test("streaming: CSVW mapping over MemoryStream == batch triples, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ts = graft.spec.TableSpec.fromJson(graft.run.Queries.nationDescriptor)
    val recs = (0 until 40).map(i => (s"NATION$i", i.toLong, (i % 5).toLong))
    val batch = recs.toDF("name", "nationkey", "regionkey")
    val expected = graft.streaming.TripleStream.triples(batch, ts)
      .collect().map(_.toSeq).toSet

    val stream = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.TripleStream.triples(
        stream.toDF.toDF("name", "nationkey", "regionkey"), ts)
      .writeStream.format("memory").queryName("streamtriples")
      .outputMode(OutputModeHelper.append).start()
    try {
      stream.addData(recs.take(25))
      q.processAllAvailable()
      stream.addData(recs.drop(25))
      q.processAllAvailable()
      val got = spark.table("streamtriples").collect().map(_.toSeq).toSet
      assert(got == expected)
      assert(got.size == 40 * 4) // 4 quads per record, none lost or duplicated
    } finally q.stop()
  }

  test("streaming: checkpointed TRIPLE pipe is exactly-once across restarts") {
    val base = TestSpark.tempDir("triplepipe")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    def recs(r: Range) = r.map(i => (s"N$i", i.toLong, (i % 5).toLong))
      .toDF("name", "nationkey", "regionkey")
    val schema = recs(0 until 1).schema
    val desc = graft.run.Queries.nationDescriptor

    def drain(): Unit = {
      val q = graft.streaming.TripleStream.runTriplePipe(
        spark, inDir, schema, desc, outDir, ckDir)
      q.awaitTermination()
    }

    recs(0 until 30).write.parquet(inDir)
    drain()
    val afterFirst = spark.read.parquet(outDir).count()

    recs(30 until 80).write.mode("append").parquet(inDir) // the feed grows
    drain() // restart from checkpoint: only the new pages convert
    drain() // idle restart: no change

    val got = spark.read.parquet(outDir)
    val ts = graft.spec.TableSpec.fromJson(desc)
    val expected = graft.streaming.TripleStream.triples(recs(0 until 80), ts)
    assert(afterFirst == 30 * 4 && got.count() == 80 * 4)
    assert(got.collect().map(_.toSeq).sorted(RowSeqOrd) sameElements
      expected.collect().map(_.toSeq).sorted(RowSeqOrd))
  }

  private object RowSeqOrd extends Ordering[Seq[Any]] {
    def compare(a: Seq[Any], b: Seq[Any]): Int =
      Ordering[String].compare(a.mkString("|"), b.mkString("|"))
  }
}

/** OutputMode is sealed behind the streaming package in some builds;
  * indirection keeps the spec source tidy.
  */
object OutputModeHelper {
  val complete = org.apache.spark.sql.streaming.OutputMode.Complete()
  val update = org.apache.spark.sql.streaming.OutputMode.Update()
  val append = org.apache.spark.sql.streaming.OutputMode.Append()
}
