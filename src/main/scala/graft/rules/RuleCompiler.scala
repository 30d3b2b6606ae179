package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.spec.{ColumnSpec, TableSpec}

/** Compiles a declarative mapping descriptor into Catalyst `Column`
  * trees — no UDFs, no RDDs: the whole row→triples mapping is one
  * narrow, whole-stage-codegen'd `select(explode(flatten(array(...))))`
  * stage so Catalyst sees through everything (constant folding on
  * template prefixes, column pruning back to the parquet scan).
  *
  * Mirrors the reference's execution semantics (reference: one
  * conversion = per-row application of each column spec —
  * aboutUrl/propertyUrl/valueUrl/csvw:value expansion, datatype+lang
  * coercion, null suppression, virtual columns; vocabulary evidenced
  * at src/templates/ruminator.html:114-180 and
  * src/static/ruminator/js/ruminator.js:170-363).
  *
  * Template grammar: `{field}` inserts the field percent-encoded (IRI
  * contexts) or raw (literal contexts); `{+field}` always raw
  * (RFC 6570 reserved expansion). Builtin fields: `url`, `lang`.
  */
object RuleCompiler {

  // ---- template parsing (driver-side, once per descriptor) ----

  sealed trait Seg
  final case class LitSeg(s: String) extends Seg
  final case class RefSeg(name: String, raw: Boolean) extends Seg

  def parseTemplate(tpl: String): Seq[Seg] = {
    val out = Seq.newBuilder[Seg]
    var i = 0
    val sb = new StringBuilder
    while (i < tpl.length) {
      val c = tpl.charAt(i)
      if (c == '{') {
        val close = tpl.indexOf('}', i)
        require(close > i, s"unterminated {ref} in template: $tpl")
        if (sb.nonEmpty) { out += LitSeg(sb.toString); sb.clear() }
        val body = tpl.substring(i + 1, close)
        if (body.startsWith("+")) out += RefSeg(body.drop(1), raw = true)
        else out += RefSeg(body, raw = false)
        i = close + 1
      } else { sb.append(c); i += 1 }
    }
    if (sb.nonEmpty) out += LitSeg(sb.toString)
    out.result()
  }

  /** RFC 3986 percent-encoding. Default: the custom single-pass
    * codegen Expression [[graft.functions.PctEncode]] (URI minting is
    * the hot scalar path — SURVEY.md §7.3). [[pctEncodeBuiltin]] keeps
    * the pure built-in formulation as the parity oracle.
    */
  def pctEncode(c: Column): Column = graft.functions.PctEncode(c)

  /** Built-in-only twin (url_encode is application/x-www-form-
    * urlencoded, so fix up the three divergences: space, '*', '~') —
    * byte-identical to [[pctEncode]], property-checked in the specs.
    */
  def pctEncodeBuiltin(c: Column): Column =
    replace(
      replace(
        replace(url_encode(c), lit("+"), lit("%20")),
        lit("*"), lit("%2A")),
      lit("%7E"), lit("~"))

  /** Driver-side twin of [[pctEncode]] for constant template parts. */
  def pctEncodeStatic(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
      .replace("+", "%20").replace("*", "%2A").replace("%7E", "~")

  /** Compile a template into (Column, referenced field names). */
  def compileTemplate(
      tpl: String,
      encode: Boolean,
      bind: Map[String, Column] = Map.empty): (Column, Set[String]) = {
    val segs = parseTemplate(tpl)
    val refs = segs.collect { case RefSeg(n, _) => n }.toSet
    val cols = segs.map {
      case LitSeg(s) => lit(s)
      case RefSeg(n, raw) =>
        val c = bind.getOrElse(n, col(n)).cast("string")
        if (encode && !raw) pctEncode(c) else c
    }
    val c = if (cols.isEmpty) lit("") else concat(cols: _*)
    (c, refs)
  }

  // ---- value normalization (C3/C6 semantics) ----

  /** Whitelisted cell transforms — compiled to built-ins, never UDFs
    * (COW's Jinja-style transforms become registry entries).
    */
  val transformRegistry: Map[String, Column => Column] = Map(
    "strip-grouping" -> (c => replace(c, lit(","), lit(""))), // data/imf.csv:2 trap
    "trim" -> (c => trim(c)),
    "lower" -> (c => lower(c)),
    "upper" -> (c => upper(c)),
    "collapse-ws" -> (c => regexp_replace(c, "\\s+", " "))
  )

  /** Effective cell value: null-list suppression then default
    * substitution then transforms (CSVW null/default semantics,
    * SURVEY.md §2.1 C6).
    */
  def effectiveValue(cs: ColumnSpec): Column = {
    val raw = col(cs.name).cast("string")
    val nulled =
      if (cs.nullValues.isEmpty) raw
      else when(raw.isin(cs.nullValues: _*), lit(null)).otherwise(raw)
    val defaulted = cs.default match {
      case Some(d) => coalesce(nulled, lit(d))
      case None    => nulled
    }
    cs.transforms.foldLeft(defaulted) { (c, t) =>
      transformRegistry.getOrElse(
        t, sys.error(s"unknown transform '$t' (registry: ${transformRegistry.keys.mkString(",")})"))(c)
    }
  }

  /** XSD date-family bases → (canonical output pattern). CSVW formats
    * are the Unicode date-pattern family, which is also Spark's
    * datetime pattern family — the descriptor's `format` feeds
    * `try_to_timestamp` directly (null on a malformed cell, which the
    * null-suppression path then drops, the CSVW "invalid cell" rule).
    */
  private val canonicalPatterns: Map[String, String] = Map(
    "date"       -> "yyyy-MM-dd",
    "dateTime"   -> "yyyy-MM-dd'T'HH:mm:ss",
    "time"       -> "HH:mm:ss",
    "gYear"      -> "yyyy",
    "gYearMonth" -> "yyyy-MM")

  /** Canonical lexical form for a date-family typed literal — ONLY for
    * the datatype OBJECT form with an explicit `format` (VERDICT round
    * 3, next #6): parse with the declared format and re-emit the XSD
    * canonical form. A PLAIN datatype string ("xsd:date", "dateTime")
    * passes the cell through verbatim, exactly as before this feature:
    * forcing those through a single strict pattern would silently
    * suppress valid XSD lexical forms the pattern doesn't cover
    * (trailing zone designators, fractional seconds — code-review
    * round 4).
    */
  def canonicalLex(cs: ColumnSpec, c: Column): Column =
    (cs.datatypeFormat,
      cs.datatype.map(_.stripPrefix("xsd:")).flatMap(canonicalPatterns.get)) match {
      case (Some(f), Some(outPat)) => date_format(try_to_timestamp(c, lit(f)), outPat)
      case _                       => c
    }

  // ---- per-column triple generator (C2..C8) ----

  private def resolveIri(ts: TableSpec, s: String): String = {
    if (s.startsWith("{")) return s // leading ref supplies the scheme itself
    val e = ts.expand(s)
    if (e.contains("://") || e.startsWith("urn:") || e.startsWith("mailto:")) e
    else ts.base + e
  }

  private val tripleFields =
    Seq("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang")

  /** Compile one column spec into an `array<struct<s,p,...>>` Column:
    * one element per emitted triple for this spec on this row (0 when
    * suppressed, >1 for separator-split cells). The caller flattens
    * all specs and explodes once — single fan-out stage (C7).
    */
  def compileColumn(ts: TableSpec, cs: ColumnSpec): Column = {
    val (subj, subjRefs) =
      compileTemplate(resolveIri(ts, cs.aboutUrl.getOrElse(ts.aboutUrl)), encode = true)

    val (pred, predRefs) = cs.propertyUrl match {
      case Some(p) if p.contains("{") => compileTemplate(resolveIri(ts, p), encode = true)
      case Some(p) => (lit(resolveIri(ts, p)), Set.empty[String])
      case None    => (lit(ts.base + pctEncodeStatic(cs.name)), Set.empty[String])
    }

    // lang only applies to plain/string literals (ruminator.js:200-208)
    val langOk = cs.datatype.forall(d => d == "string" || d == "xsd:string")
    val effLang = cs.lang.filter(_ => langOk)
    val dtIri: Option[String] =
      if (effLang.isDefined) None else cs.datatype.map(ts.datatypeIri)
    val dtCol = dtIri.map(lit(_)).getOrElse(lit(null).cast("string"))
    val langCol = effLang.map(lit(_)).getOrElse(lit(null).cast("string"))

    def mkStruct(kind: String, lex: Column, dt: Column, lg: Column): Column =
      struct(subj.as("s"), pred.as("p"), lit(kind).as("o_kind"),
        lex.as("o_lex"), dt.as("o_datatype"), lg.as("o_lang"))

    val (st, objRefs, valueKeep) = (cs.valueUrl, cs.csvwValue) match {
      case (Some(vu), _) => // object IRI (valueUrl wins; mutually exclusive in the UI)
        val (o, refs) = compileTemplate(resolveIri(ts, vu), encode = true)
        (mkStruct("iri", o, lit(null).cast("string"), lit(null).cast("string")),
          refs, lit(true))
      case (None, Some(cv)) => // templated literal (csvw:value, C4)
        val (o, refs) = compileTemplate(cv, encode = false)
        (mkStruct("literal", o, dtCol, langCol), refs, lit(true))
      case (None, None) => // regular column literal (C3)
        val v = canonicalLex(cs, effectiveValue(cs))
        // keep is computed on the CANONICAL value: a cell the declared
        // format can't parse is an invalid cell → suppressed (C6)
        (mkStruct("literal", v, dtCol, langCol), Set.empty[String], v.isNotNull)
    }

    // suppress when any referenced field is null/empty (C6) or, for
    // regular columns, when the effective cell value is null
    val refs = subjRefs ++ predRefs ++ objRefs
    val keep = refs.foldLeft(valueKeep) { (k, f) =>
      k && col(f).isNotNull && (col(f).cast("string") =!= "")
    }

    // every branch must yield a NON-NULL array: flatten() nulls the
    // whole row's fan-out if any spec's array is null
    val emptyArr = slice(array(st), 1, 0)
    cs.separator match {
      case Some(sep) if cs.valueUrl.isEmpty && cs.csvwValue.isEmpty =>
        // C8: multi-valued cell → one triple per non-empty part; each
        // part canonicalized independently (unparseable parts dropped)
        val parts = split(effectiveValue(cs), java.util.regex.Pattern.quote(sep))
        val kept = filter(
          transform(filter(parts, v => v.isNotNull && (v =!= "")), v => canonicalLex(cs, v)),
          v => v.isNotNull)
        val arr = transform(kept, v =>
          struct(subj.as("s"), pred.as("p"), lit("literal").as("o_kind"),
            v.as("o_lex"), dtCol.as("o_datatype"), langCol.as("o_lang")))
        coalesce(when(keep, arr), emptyArr)
      case _ =>
        coalesce(when(keep, array(st)), emptyArr)
    }
  }

  /** Lift descriptor-declared fields out of the page text: one
    * `regexp_extract` per extractor over the (already byte-stable)
    * `text` column; empty match → null so suppression semantics apply.
    * Builtins `url` and `lang` pass through, and so do the
    * `passThrough` columns (e.g. stage A's mention hits).
    */
  def extractFields(pages: DataFrame, ts: TableSpec, passThrough: Seq[String] = Nil): DataFrame = {
    val fields = ts.extractors.map { case (name, re) =>
      val e = regexp_extract(col("text"), re, 1)
      when(length(e) > 0, e).as(name)
    }
    pages.select((Seq(col("url"), col("lang")) ++ fields ++ passThrough.map(col)): _*)
  }

  /** The subject-URI Column for a table spec (used by the linker to
    * know which minted URI a page's record owns).
    */
  def subjectColumn(ts: TableSpec): Column =
    compileTemplate(resolveIri(ts, ts.aboutUrl), encode = true)._1

  /** The whole mapping: records → flat quad DataFrame. One narrow
    * stage; no shuffle (dedup/canonicalization shuffle later).
    * `passThrough` columns (e.g. the resume bucket) ride along.
    */
  def triples(
      records: DataFrame,
      ts: TableSpec,
      graphIri: String,
      passThrough: Seq[String] = Nil): DataFrame = {
    require(ts.columns.nonEmpty, "descriptor has no column specs")
    val arrs = ts.columns.map(compileColumn(ts, _))
    records
      .select(explode(flatten(array(arrs: _*))).as("t") +: passThrough.map(col): _*)
      .select(tripleFields.map(f => col(s"t.$f")) ++
        (lit(graphIri).as("g") +: passThrough.map(col)): _*)
  }
}
