package graft.emit

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** RDF re-serialization (reference K2/K4: 9 output serializations with
  * extension + MIME tables at src/cattle.py:45-63, format picker in
  * src/templates/download_page.html; negotiation at :312-328).
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

  // ---------- term rendering (driver+executor scala; mirrors nqLine) ----------

  def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")

  def renderObject(kind: String, lex: String, dt: String, lang: String): String =
    if (kind == "iri") s"<$lex>"
    else {
      val tag =
        if (lang != null) s"@$lang"
        else if (dt != null) s"^^<$dt>"
        else ""
      "\"" + escape(lex) + "\"" + tag
    }

  private def obj(r: Row): String =
    renderObject(r.getAs[String]("o_kind"), r.getAs[String]("o_lex"),
      r.getAs[String]("o_datatype"), r.getAs[String]("o_lang"))

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

  private def objCompact(r: Row, pfx: Seq[(String, String)]): String =
    if (r.getAs[String]("o_kind") == "iri") compactTerm(r.getAs[String]("o_lex"), pfx)
    else {
      val tag =
        if (r.getAs[String]("o_lang") != null) s"@${r.getAs[String]("o_lang")}"
        else if (r.getAs[String]("o_datatype") != null)
          s"^^${compactTerm(r.getAs[String]("o_datatype"), pfx)}"
        else ""
      "\"" + escape(r.getAs[String]("o_lex")) + "\"" + tag
    }

  /** Longest-namespace-first directive order (deterministic compaction
    * when namespaces nest) + the `@prefix` header block.
    */
  private def prefixSeq(prefixes: Map[String, String]): Seq[(String, String)] =
    prefixes.toSeq.sortBy { case (p, ns) => (-ns.length, p) }

  private def prefixHeader(pfx: Seq[(String, String)]): String =
    pfx.map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n")

  // ---------- distributed sinks ----------

  /** N-Triples: drop the graph, distinct, distributed text write. */
  def writeNt(triples: DataFrame, path: String, gzip: Boolean = false): Unit = {
    val line = concat(
      lit("<"), col("s"), lit("> <"), col("p"), lit("> "),
      when(col("o_kind") === "iri", concat(lit("<"), col("o_lex"), lit(">")))
        .otherwise(concat(
          lit("\""), TripleEmitter.nqEscape(col("o_lex")), lit("\""),
          when(col("o_lang").isNotNull, concat(lit("@"), col("o_lang")))
            .otherwise(when(col("o_datatype").isNotNull,
              concat(lit("^^<"), col("o_datatype"), lit(">"))).otherwise(lit(""))))),
      lit(" ."))
    val w = triples.dropDuplicates("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang")
      .select(line.as("value")).write.mode(SaveMode.Overwrite)
    (if (gzip) w.option("compression", "gzip") else w).text(path)
  }

  /** Turtle (and N3, a superset): subject-grouped blocks. Range
    * partition on subject so each subject's triples land in ONE
    * partition; sort within; stream-group in a mapPartitions. No
    * driver materialization at any scale.
    *
    * `prefixes` (prefix → namespace) enables `@prefix` compaction:
    * every non-empty partition leads with the directive block —
    * Turtle allows re-declaration, so part files still concatenate
    * into one valid document AND each part stays self-contained.
    * Terms the registered namespaces don't cover (or whose local part
    * isn't a safe PN_LOCAL) stay full IRIs.
    */
  def writeTurtle(triples: DataFrame, path: String, gzip: Boolean = false,
      prefixes: Map[String, String] = Map.empty): Unit = {
    val spark = triples.sparkSession
    import spark.implicits._
    val pfx = prefixSeq(prefixes)
    val sorted = triples
      .dropDuplicates("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang")
      .select("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang")
      .repartitionByRange(col("s"))
      .sortWithinPartitions("s", "p", "o_lex")
    val blocks = sorted.mapPartitions { it =>
      val in = it.buffered
      val header =
        if (pfx.nonEmpty && in.hasNext) Iterator(prefixHeader(pfx)) else Iterator.empty
      header ++ new Iterator[String] {
        def hasNext: Boolean = in.hasNext
        def next(): String = {
          val s = in.head.getAs[String]("s")
          val sb = new StringBuilder(compactTerm(s, pfx))
          var first = true
          while (in.hasNext && in.head.getAs[String]("s") == s) {
            val r = in.next()
            sb.append(if (first) "\n    " else " ;\n    ")
            sb.append(s"${compactTerm(r.getAs[String]("p"), pfx)} ${objCompact(r, pfx)}")
            first = false
          }
          sb.append(" .").toString()
        }
      }
    }
    val w = blocks.toDF("value").write.mode(SaveMode.Overwrite)
    (if (gzip) w.option("compression", "gzip") else w).text(path)
  }

  /** TriG: graph-grouped, subject-sorted blocks; part files
    * concatenate (TriG allows a graph label to recur). `prefixes` as
    * in [[writeTurtle]] (TriG shares Turtle's directive syntax).
    */
  def writeTrig(triples: DataFrame, path: String, gzip: Boolean = false,
      prefixes: Map[String, String] = Map.empty): Unit = {
    val spark = triples.sparkSession
    import spark.implicits._
    val pfx = prefixSeq(prefixes)
    val sorted = TripleEmitter.dedup(triples)
      .repartitionByRange(col("g"), col("s"))
      .sortWithinPartitions("g", "s", "p", "o_lex")
    val blocks = sorted.mapPartitions { it =>
      val in = it.buffered
      val header =
        if (pfx.nonEmpty && in.hasNext) Iterator(prefixHeader(pfx)) else Iterator.empty
      header ++ new Iterator[String] {
        def hasNext: Boolean = in.hasNext
        def next(): String = {
          val g = in.head.getAs[String]("g")
          val sb = new StringBuilder(s"${compactTerm(g, pfx)} {\n")
          while (in.hasNext && in.head.getAs[String]("g") == g) {
            val r = in.next()
            sb.append(s"  ${compactTerm(r.getAs[String]("s"), pfx)} " +
              s"${compactTerm(r.getAs[String]("p"), pfx)} ${objCompact(r, pfx)} .\n")
          }
          sb.append("}").toString()
        }
      }
    }
    val w = blocks.toDF("value").write.mode(SaveMode.Overwrite)
    (if (gzip) w.option("compression", "gzip") else w).text(path)
  }

  // ---------- driver-side document formats (export-sized) ----------

  /** Guard for formats whose enclosing document structure forces a
    * single-writer serialization.
    */
  val driverSideLimit: Long = 5000000L

  private def collectGuarded(triples: DataFrame): Array[Row] = {
    val rows = TripleEmitter.dedup(triples)
      .select("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
      .limit((driverSideLimit + 1).toInt).collect()
    require(rows.length <= driverSideLimit,
      s"document-format export exceeds $driverSideLimit triples; use nquads/turtle/trig (distributed)")
    rows
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

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
          .map(l => s""" xml:lang="$l"""").getOrElse("")
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
              sb.append(s"""      <plainLiteral xml:lang="$l">$lex</plainLiteral>""").append('\n')
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
      case "nquads" => TripleEmitter.writeNq(TripleEmitter.dedup(triples), path, gzip)
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
