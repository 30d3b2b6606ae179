package graft.emit

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** RDF re-serialization (reference K2/K4: 9 output serializations with
  * extension + MIME tables at src/cattle.py:45-63, format picker in
  * src/templates/download_page.html; negotiation at :312-328). The one
  * module that renders RDF terms; [[TripleEmitter]] owns the parquet store.
  *
  * Scale split (SURVEY.md §2.1 K2):
  *  - line-oriented formats (nquads, ntriples) are DISTRIBUTED text
  *    sinks — pure Column string assembly, any size;
  *  - grouped text formats (turtle, trig, n3) are distributed via
  *    `repartitionByRange(s)` + `sortWithinPartitions` + a
  *    mapPartitions grouping serializer: each partition emits
  *    self-contained subject (turtle) / graph (trig) blocks, so part
  *    files concatenate into one valid document (TriG permits repeated
  *    graph labels; Turtle permits repeated subjects across blocks);
  *  - document formats (json-ld, rdf/xml, trix) require enclosing
  *    structure, so they serialize DRIVER-SIDE and are guarded by a
  *    row limit — the reference collects the whole graph in one
  *    process for EVERY export (src/cattle.py:307-311); we only do it
  *    where the format forces it, and refuse above the guard instead
  *    of OOMing silently.
  */
object Serializer {

  /** (format, extension, MIME) negotiation table — mirrors the
    * reference's EXTENSION_DICT / MIME_TYPE_DICT verbatim
    * (src/cattle.py:44-63): 9 keys including the `rdfxml` alias of
    * `xml`, trix served as application/xml with an .xml extension.
    * ORDERED so MIME → format resolution is deterministic (`xml` wins
    * application/rdf+xml over its aliases).
    */
  val formatTable: Seq[(String, String, String)] = Seq(
    ("nquads", ".nq", "application/n-quads"),
    ("nt", ".nt", "application/n-triples"),
    ("turtle", ".ttl", "text/turtle"),
    ("n3", ".n3", "text/n3"),
    ("trig", ".trig", "application/trig"),
    ("json-ld", ".jsonld", "application/ld+json"),
    ("xml", ".rdf", "application/rdf+xml"),
    ("rdfxml", ".rdf", "application/rdf+xml"),
    ("trix", ".xml", "application/xml"))

  val formats: Map[String, String] =
    formatTable.map { case (f, _, mime) => f -> mime }.toMap

  val extensions: Map[String, String] =
    formatTable.map { case (f, ext, _) => f -> ext }.toMap

  /** First table entry whose MIME matches — stable resolution order
    * (the round-1 Map iteration picked xml vs pretty-xml
    * nondeterministically; ADVICE round 1).
    */
  def formatFor(accept: String): Option[String] =
    formatTable.collectFirst { case (f, _, mime) if mime == accept => f }

  // ---------- term rendering: Column trees for line sinks, Scala on executors ----------

  /** N-Triples string escaping (grammar: ECHAR). Literal `replace`
    * chain — backslash FIRST. Codegen'd; no regex, no UDF.
    */
  def nqEscape(c: Column): Column =
    replace(
      replace(
        replace(
          replace(
            replace(c, lit("\\"), lit("\\\\")),
            lit("\""), lit("\\\"")),
          lit("\n"), lit("\\n")),
        lit("\r"), lit("\\r")),
      lit("\t"), lit("\\t"))

  /** [[nqEscape]] for the grouped writers' executor-side Scala. */
  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")

  /** `<s> <p> object` followed by `tail`, the object term rendered as
    * `<iri>` or a quoted escaped literal with `@lang` or `^^<datatype>`.
    */
  private def statement(tail: Column*): Column = {
    val obj = when(col("o_kind") === "iri", concat(lit("<"), col("o_lex"), lit(">")))
      .otherwise(
        concat(
          lit("\""), nqEscape(col("o_lex")), lit("\""),
          when(col("o_lang").isNotNull, concat(lit("@"), col("o_lang")))
            .otherwise(
              when(col("o_datatype").isNotNull,
                concat(lit("^^<"), col("o_datatype"), lit(">")))
                .otherwise(lit("")))))
    concat(Seq(lit("<"), col("s"), lit("> <"), col("p"), lit("> "), obj) ++ tail: _*)
  }

  /** One N-Quads line from the flat triple columns. */
  def nqLine: Column = statement(lit(" <"), col("g"), lit("> ."))

  /** The object term of a triple row on executors, compacted through
    * `prefixes` as in [[compactTerm]]; with no prefixes it is the term
    * [[nqLine]] renders.
    */
  private def objectTerm(r: Row, prefixes: Seq[(String, String)]): String =
    if (r.getAs[String]("o_kind") == "iri") compactTerm(r.getAs[String]("o_lex"), prefixes)
    else {
      val (lang, dt) = (r.getAs[String]("o_lang"), r.getAs[String]("o_datatype"))
      val tag =
        if (lang != null) s"@$lang"
        else if (dt != null) s"^^${compactTerm(dt, prefixes)}"
        else ""
      "\"" + escape(r.getAs[String]("o_lex")) + "\"" + tag
    }

  // ---------- prefix compaction (turtle / trig / n3) ----------

  /** Conservative Turtle PN_LOCAL check — STRICTLY ASCII
    * letters/digits/_/-, no dots or escapes. `Character.isLetterOrDigit`
    * would admit Unicode letters below PN_CHARS_BASE's U+00C0 floor
    * (µ, ª, º…), producing a prefixed name conforming parsers reject
    * (code-review round 4). Anything outside stays a full `<IRI>`; a
    * missed compaction is valid Turtle, a bad one is not.
    */
  def isPnLocal(s: String): Boolean = {
    def azAZ(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    def digit(c: Char) = c >= '0' && c <= '9'
    s.nonEmpty && (azAZ(s.head) || digit(s.head) || s.head == '_') &&
      s.forall(c => azAZ(c) || digit(c) || c == '_' || c == '-')
  }

  /** `prefix:local` when a registered namespace + legal local name
    * covers the IRI (longest namespace wins), else `<iri>`.
    */
  def compactTerm(iri: String, prefixes: Seq[(String, String)]): String =
    prefixes.collectFirst {
      case (p, ns) if iri.startsWith(ns) && isPnLocal(iri.substring(ns.length)) =>
        s"$p:${iri.substring(ns.length)}"
    }.getOrElse(s"<$iri>")

  /** Longest-namespace-first directive order (deterministic compaction
    * when namespaces nest) + the `@prefix` header block.
    */
  private def prefixSeq(prefixes: Map[String, String]): Seq[(String, String)] =
    prefixes.toSeq.sortBy { case (p, ns) => (-ns.length, p) }

  private def prefixHeader(pfx: Seq[(String, String)]): String =
    pfx.map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n")

  // ---------- distributed sinks ----------

  private val tripleCols = Seq("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang")

  /** The one text sink: one string per row, overwriting, optionally
    * gzip (reference K3, src/cattle.py:313-319).
    */
  private def writeText(lines: Dataset[_], path: String, gzip: Boolean): Unit = {
    val w = lines.toDF("value").write.mode(SaveMode.Overwrite)
    (if (gzip) w.option("compression", "gzip") else w).text(path)
  }

  /** Distributed N-Quads sink over already-deduplicated quads. */
  def writeNq(triples: DataFrame, path: String, gzip: Boolean = false): Unit =
    writeText(triples.select(nqLine.as("value")), path, gzip)

  /** N-Triples: drop the graph, distinct, distributed text write. */
  def writeNt(triples: DataFrame, path: String, gzip: Boolean = false): Unit =
    writeText(triples.dropDuplicates(tripleCols).select(statement(lit(" .")).as("value")),
      path, gzip)

  /** Grouped-block writer behind turtle and TriG. Range-partition on
    * `keys` so each group lands in ONE partition, sort within
    * partitions, and stream one `block` per run of equal `keys.head`
    * values in a mapPartitions. No driver materialization at any scale.
    *
    * With `prefixes` (prefix → namespace) every non-empty partition
    * leads with the `@prefix` block — Turtle and TriG allow
    * re-declaration, so part files still concatenate into one valid
    * document AND each part stays self-contained.
    */
  private def groupedBlocks(rows: DataFrame, keys: Seq[String], prefixes: Map[String, String])(
      block: (String, Iterator[Row], Seq[(String, String)]) => String): Dataset[String] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val pfx = prefixSeq(prefixes)
    val key = keys.head
    rows.repartitionByRange(keys.map(col): _*)
      .sortWithinPartitions((keys :+ "p" :+ "o_lex").map(col): _*)
      .mapPartitions { it =>
        val in = it.buffered
        val header =
          if (pfx.nonEmpty && in.hasNext) Iterator(prefixHeader(pfx)) else Iterator.empty
        header ++ new Iterator[String] {
          def hasNext: Boolean = in.hasNext
          def next(): String = {
            val k = in.head.getAs[String](key)
            block(k, new Iterator[Row] {
              def hasNext: Boolean = in.hasNext && in.head.getAs[String](key) == k
              def next(): Row = in.next()
            }, pfx)
          }
        }
      }
  }

  /** Turtle (and N3, a superset) subject blocks over the distinct
    * triples: `subject` then `predicate object` lines joined by ` ;`.
    * Terms the registered `prefixes` don't cover (or whose local part
    * isn't a safe PN_LOCAL) stay full IRIs; with none, every term is.
    */
  def turtleBlocks(triples: DataFrame, prefixes: Map[String, String]): Dataset[String] =
    groupedBlocks(triples.dropDuplicates(tripleCols).select(tripleCols.map(col): _*),
      Seq("s"), prefixes) { (s, stmts, pfx) =>
      compactTerm(s, pfx) + stmts.map { r =>
        s"\n    ${compactTerm(r.getAs[String]("p"), pfx)} ${objectTerm(r, pfx)}"
      }.mkString(" ;") + " ."
    }

  /** Turtle (and N3): [[turtleBlocks]] as a text sink; Turtle permits
    * repeated subjects across blocks, so part files concatenate.
    */
  def writeTurtle(triples: DataFrame, path: String, gzip: Boolean = false,
      prefixes: Map[String, String] = Map.empty): Unit =
    writeText(turtleBlocks(triples, prefixes), path, gzip)

  /** TriG: graph-grouped, subject-sorted blocks; part files
    * concatenate (TriG allows a graph label to recur). `prefixes` as
    * in [[turtleBlocks]] (TriG shares Turtle's directive syntax).
    */
  def writeTrig(triples: DataFrame, path: String, gzip: Boolean = false,
      prefixes: Map[String, String] = Map.empty): Unit =
    writeText(groupedBlocks(TripleEmitter.dedup(triples), Seq("g", "s"), prefixes) {
      (g, stmts, pfx) =>
        s"${compactTerm(g, pfx)} {\n" + stmts.map { r =>
          s"  ${compactTerm(r.getAs[String]("s"), pfx)} " +
            s"${compactTerm(r.getAs[String]("p"), pfx)} ${objectTerm(r, pfx)} .\n"
        }.mkString + "}"
    }, path, gzip)

  // ---------- driver-side document formats (export-sized) ----------

  /** Guard for formats whose enclosing document structure forces a
    * single-writer serialization.
    */
  val driverSideLimit: Long = 5000000L

  private def collectGuarded(triples: DataFrame): Array[Row] =
    graft.util.Collect.bounded(TripleEmitter.dedup(triples)
        .select("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g"),
      driverSideLimit, "document-format export", "use nquads/turtle/trig (distributed)")

  /** XML 1.0 `Char` production. */
  private def isXmlChar(c: Int): Boolean =
    c == 0x9 || c == 0xA || c == 0xD || (c >= 0x20 && c <= 0xD7FF) ||
      (c >= 0xE000 && c <= 0xFFFD) || c >= 0x10000

  /** Text and attribute escaping for the XML documents. `\r` becomes
    * `&#13;`, which a parser's line-end normalization leaves alone; a
    * character XML 1.0 cannot carry at all FAILS LOUDLY, as an
    * unsplittable predicate does in [[toRdfXml]].
    */
  private def xmlEscape(s: String): String = {
    val bad = s.codePoints.filter(c => !isXmlChar(c)).findFirst
    if (bad.isPresent)
      throw new IllegalArgumentException(f"U+${bad.getAsInt}%04X is not an XML 1.0 " +
        "character; serialize as nquads/turtle instead")
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("\r", "&#13;")
  }

  /** Is `s` a legal XML NCName (the part of a QName after the colon)?
    * Conservative ASCII subset: letter/underscore start, then
    * letters/digits/-/./_ — anything else falls back to a generic
    * property element.
    */
  def isNcName(s: String): Boolean =
    s.nonEmpty &&
      (s.head.isLetter || s.head == '_') &&
      s.forall(c => c.isLetterOrDigit || c == '-' || c == '.' || c == '_')

  /** Split a predicate IRI into (namespace, NCName local part) at the
    * last '#', '/' or ':' that leaves a legal local name; IRIs with no
    * such split point (e.g. ending in '/', or urn:a:9) get None —
    * the serializer then emits them via the RDF/XML general-property
    * escape hatch (rdf:li-style numbered property) instead of silently
    * producing malformed XML (ADVICE round 1).
    */
  def qnameSplit(p: String): Option[(String, String)] = {
    val cuts = Seq(p.lastIndexOf('#'), p.lastIndexOf('/'), p.lastIndexOf(':'))
    val cut = cuts.max + 1
    if (cut <= 0 || cut >= p.length) None
    else {
      val local = p.substring(cut)
      if (isNcName(local)) Some((p.substring(0, cut), local)) else None
    }
  }

  /** RDF/XML: generic rdf:Description blocks. Property QNames are
    * split at the last '#', '/' or ':' and validated as NCNames;
    * a predicate IRI with no legal split point FAILS LOUDLY with a
    * pointer to the line-oriented formats (RDF/XML simply cannot
    * express such predicates; round 1 silently emitted malformed XML —
    * ADVICE round 1).
    */
  def toRdfXml(triples: DataFrame): String = {
    val rows = collectGuarded(triples)
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\">\n")
    for (r <- rows) {
      val p = r.getAs[String]("p")
      val (ns, local) = qnameSplit(p).getOrElse {
        throw new IllegalArgumentException(
          s"predicate IRI '$p' has no legal RDF/XML QName split; " +
            "serialize as nquads/turtle instead")
      }
      sb.append(s"""  <rdf:Description rdf:about="${xmlEscape(r.getAs[String]("s"))}">""").append('\n')
      if (r.getAs[String]("o_kind") == "iri")
        sb.append(s"""    <$local xmlns="${xmlEscape(ns)}" rdf:resource="${xmlEscape(r.getAs[String]("o_lex"))}"/>""")
      else {
        val dt = Option(r.getAs[String]("o_datatype"))
          .map(d => s""" rdf:datatype="${xmlEscape(d)}"""").getOrElse("")
        val lang = Option(r.getAs[String]("o_lang"))
          .map(l => s""" xml:lang="${xmlEscape(l)}"""").getOrElse("")
        sb.append(s"""    <$local xmlns="${xmlEscape(ns)}"$dt$lang>${xmlEscape(r.getAs[String]("o_lex"))}</$local>""")
      }
      sb.append("\n  </rdf:Description>\n")
    }
    sb.append("</rdf:RDF>\n").toString()
  }

  /** TriX (W3C note): fully regular XML quad encoding. */
  def toTrix(triples: DataFrame): String = {
    val rows = collectGuarded(triples)
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<TriX xmlns=\"http://www.w3.org/2004/03/trix/trix-1/\">\n")
    for ((g, rs) <- rows.groupBy(_.getAs[String]("g")).toSeq.sortBy(_._1)) {
      sb.append(s"  <graph>\n    <uri>${xmlEscape(g)}</uri>\n")
      for (r <- rs) {
        sb.append("    <triple>\n")
        sb.append(s"      <uri>${xmlEscape(r.getAs[String]("s"))}</uri>\n")
        sb.append(s"      <uri>${xmlEscape(r.getAs[String]("p"))}</uri>\n")
        if (r.getAs[String]("o_kind") == "iri")
          sb.append(s"      <uri>${xmlEscape(r.getAs[String]("o_lex"))}</uri>\n")
        else {
          val lex = xmlEscape(r.getAs[String]("o_lex"))
          (Option(r.getAs[String]("o_lang")), Option(r.getAs[String]("o_datatype"))) match {
            case (Some(l), _) =>
              sb.append(s"""      <plainLiteral xml:lang="${xmlEscape(l)}">$lex</plainLiteral>""").append('\n')
            case (None, Some(d)) =>
              sb.append(s"""      <typedLiteral datatype="${xmlEscape(d)}">$lex</typedLiteral>""").append('\n')
            case _ =>
              sb.append(s"      <plainLiteral>$lex</plainLiteral>\n")
          }
        }
        sb.append("    </triple>\n")
      }
      sb.append("  </graph>\n")
    }
    sb.append("</TriX>\n").toString()
  }

  /** JSON-LD (expanded form: array of node objects with @id/@graph). */
  def toJsonLd(triples: DataFrame): String = {
    val rows = collectGuarded(triples)
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def objJson(r: Row): String =
      if (r.getAs[String]("o_kind") == "iri")
        s"""{"@id": ${jstr(r.getAs[String]("o_lex"))}}"""
      else {
        val v = s""""@value": ${jstr(r.getAs[String]("o_lex"))}"""
        val extra = (Option(r.getAs[String]("o_lang")), Option(r.getAs[String]("o_datatype"))) match {
          case (Some(l), _) => s""", "@language": ${jstr(l)}"""
          case (None, Some(d)) => s""", "@type": ${jstr(d)}"""
          case _ => ""
        }
        s"{$v$extra}"
      }
    val graphs = rows.groupBy(_.getAs[String]("g")).toSeq.sortBy(_._1).map { case (g, rs) =>
      val nodes = rs.groupBy(_.getAs[String]("s")).toSeq.sortBy(_._1).map { case (s, srs) =>
        val props = srs.groupBy(_.getAs[String]("p")).toSeq.sortBy(_._1).map { case (p, prs) =>
          s"${jstr(p)}: [${prs.map(objJson).mkString(", ")}]"
        }
        s"""{"@id": ${jstr(s)}, ${props.mkString(", ")}}"""
      }
      s"""{"@id": ${jstr(g)}, "@graph": [${nodes.mkString(", ")}]}"""
    }
    s"[${graphs.mkString(", ")}]"
  }

  /** Unified entry (reference's negotiation path, src/cattle.py:312-328):
    * distributed where possible, driver-side where the format forces it.
    */
  def write(triples: DataFrame, path: String, format: String, gzip: Boolean = false): Unit =
    format match {
      case "nquads" => writeNq(TripleEmitter.dedup(triples), path, gzip)
      case "nt" => writeNt(triples, path, gzip)
      case "turtle" | "n3" => writeTurtle(triples, path, gzip)
      case "trig" => writeTrig(triples, path, gzip)
      // 'pretty-xml' is NOT accepted: the reference's dicts
      // (src/cattle.py:44-63) don't contain it, and neither does
      // formatTable — accepting it here while formats/extensions/
      // formatFor reject it left a half-removed alias (ADVICE round 2)
      case "xml" | "rdfxml" => writeDriverDoc(triples.sparkSession, toRdfXml(triples), path, gzip)
      case "trix" => writeDriverDoc(triples.sparkSession, toTrix(triples), path, gzip)
      case "json-ld" => writeDriverDoc(triples.sparkSession, toJsonLd(triples), path, gzip)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported format '$other' (supported: ${formats.keys.toSeq.sorted.mkString(", ")})")
    }

  /** Writes through the Hadoop FileSystem `path` resolves to, so a
    * `file:`/`hdfs:` URI lands where it names, as the distributed sinks do.
    * Whatever is at `path` is deleted first, matching their
    * `SaveMode.Overwrite`: an earlier distributed format leaves a
    * directory there, which `create` cannot overwrite.
    */
  private def writeDriverDoc(spark: SparkSession, doc: String, path: String,
      gzip: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val raw = fs.create(p, true)
    val out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
    try out.write(doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }
}
