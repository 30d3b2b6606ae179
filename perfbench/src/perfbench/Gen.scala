package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.model.Page

/** The benchmark's own inputs and oracles.
  *
  * Every generated value is a pure function of (seed, index), so the
  * same seed gives the same inputs under any partitioning. Nothing here
  * calls the engine: expected outputs are derived from the generated
  * records by this file's own rendering and union-find, so a change to
  * the engine cannot change what the benchmark expects.
  */
object Gen {

  // ---- deterministic randomness ----

  /** splitmix64 finalizer: a bijection on 64-bit values. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform in [0, 1) from a stream id and an index. */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(seed * 31L + stream) + i) >>> 11).toDouble / (1L << 53).toDouble

  def pick(seed: Long, stream: Long, i: Long, n: Int): Int =
    math.min(n - 1, (unit(seed, stream, i) * n).toInt)

  /** Unique hex id per index: `mix` is a bijection, so distinct indices
    * give distinct ids, in hash order rather than index order.
    */
  def hexId(seed: Long, i: Long): String =
    java.lang.Long.toHexString(mix(mix(seed) + i))

  // ---- vocabulary ----

  private val syllables = IndexedSeq(
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "ze", "bi", "do", "fa", "gu",
    "ha", "je", "ko", "le", "ma", "no", "pi", "sa", "tu", "va", "we", "yo")

  /** Name number `k`: three base-24 syllables (unique for k < 13824) plus
    * a suffix, capitalized. Entity names end in "ria"; no other generated
    * word does, so the gazetteer matches exactly where a name is planted.
    */
  def word(seed: Long, k: Int, suffix: String): String = {
    val rot = (mix(seed) >>> 1) % syllables.size
    def syl(d: Int) = syllables(((d + rot) % syllables.size).toInt)
    val s = syl(k % 24) + syl((k / 24) % 24) + syl((k / 576) % 24) + suffix
    s.capitalize
  }

  def entityName(seed: Long, k: Int): String = word(seed, k, "ria")
  def entityUri(seed: Long, k: Int): String =
    "http://kb.bench.example/entity/" + entityName(seed, k).toLowerCase

  private val firstNames = IndexedSeq("Ada", "Bram", "Cleo", "Dirk", "Eva", "Floor",
    "Gert", "Hanna", "Ids", "Joost", "Kees", "Lotte", "Mees", "Noor", "Otto", "Pim")
  private val lastNames = IndexedSeq("Bakker", "Visser", "Smit", "Meijer", "Mulder",
    "Bos", "Vos", "Peters", "Hendriks", "Dekker", "Brouwer", "Kok", "Jansen", "Vries")
  private val tagPool = IndexedSeq("census", "trade", "archive", "survey", "budget",
    "harbour", "railway", "climate", "labour", "housing", "energy", "health",
    "tourism", "fishery", "mining", "textile", "banking", "schools", "roads", "water")

  private val filler = IndexedSeq(
    "The measurement was repeated under identical conditions.",
    "Officials declined to comment on the preliminary figures.",
    "Analysts expect the trend to continue through the quarter.",
    "The committee published its findings after a long review.",
    "Local markets responded slowly to the announcement.",
    "A spokesperson confirmed the schedule remains unchanged.",
    "The archive contains records dating back several decades.",
    "Researchers cautioned against overinterpreting the data.",
    "Spending on R&D rose for the second year in a row.",
    "Infrastructure investment rose for the third straight year.",
    "The survey covered households across twelve districts.",
    "Export volumes recovered after the seasonal slowdown.",
    "The index is computed from publicly available sources.",
    "Observers noted a gradual shift in consumption patterns.",
    "The revised estimate supersedes earlier projections.",
    "Methodological notes are appended to the main table.")

  private val mentionTemplates = IndexedSeq(
    "Delegates from %s attended the session.",
    "Trade with %s grew steadily over the period.",
    "The figures for %s were revised upward.",
    "A report on %s was filed with the registry.")

  def grouped(n: Long): String = {
    val s = n.toString
    val sb = new StringBuilder
    val first = s.length % 3
    var i = 0
    while (i < s.length) {
      if (i != 0 && (i - first) % 3 == 0) sb.append(',')
      sb.append(s.charAt(i))
      i += 1
    }
    sb.toString
  }

  // ---- the mapping descriptor (the benchmark's own) ----

  val Base = "http://bench.graft.example/"
  val Vocab = Base + "vocab/"
  val Graph = Base + "graph/kg"
  val Xsd = "http://www.w3.org/2001/XMLSchema#"
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val ProvDerived = "http://www.w3.org/ns/prov#wasDerivedFrom"
  val Mentions = "http://schema.org/mentions"

  val descriptor: String =
    """{
      |  "@base": "http://bench.graft.example/",
      |  "aboutUrl": "item/{id}",
      |  "graph": "http://bench.graft.example/graph/kg",
      |  "prefixes": { "ex": "http://bench.graft.example/vocab/" },
      |  "extractors": {
      |    "id": "^Item ([0-9a-f]+) Name: ",
      |    "name": " Name: ([A-Za-z]+ [A-Za-z]+) Rank: ",
      |    "rank": " Rank: ([0-9,]+) Score: ",
      |    "score": " Score: ([0-9,]+) Place: ",
      |    "place": " Place: ([A-Za-z]+)\\. Tags: ",
      |    "tags": " Tags: ([a-z;]+)\\. "
      |  },
      |  "tableSchema": { "columns": [
      |    { "name": "rank", "propertyUrl": "ex:rank",
      |      "datatype": "integer", "transforms": ["strip-grouping"] },
      |    { "name": "score", "propertyUrl": "ex:score",
      |      "datatype": "xsd:integer", "transforms": ["strip-grouping"] },
      |    { "name": "name", "propertyUrl": "ex:name",
      |      "datatype": "string", "lang": "en" },
      |    { "name": "tags", "propertyUrl": "ex:tag", "separator": ";" },
      |    { "name": "place", "propertyUrl": "ex:place", "valueUrl": "place/{place}" },
      |    { "name": "type_v", "virtual": true,
      |      "propertyUrl": "rdf:type", "valueUrl": "ex:Item" },
      |    { "name": "prov_v", "virtual": true,
      |      "propertyUrl": "prov:wasDerivedFrom", "valueUrl": "{+url}" }
      |  ] }
      |}""".stripMargin

  // ---- pages (store_resume) ----

  /** Page corpus shape. `hubs` gazetteer entities double as record
    * places on `hubShare` of the pages; only those pages yield a
    * corroborated same-as edge, so canonicalization stays small.
    */
  final case class PageSpec(seed: Long, pages: Long, entities: Int = 2000,
      hubs: Int = 8, hubShare: Double = 0.02, fillers: Int = 20)

  final case class Rec(id: String, url: String, lang: String, name: String,
      rank: Long, score: Long, place: String, hubIdx: Int, tags: Seq[String],
      mentioned: Seq[Int], text: String)

  def gazetteer(ps: PageSpec): Seq[(String, String)] =
    (0 until ps.entities).map(k => entityName(ps.seed, k) -> entityUri(ps.seed, k))

  /** The hub entity a page's place names, or -1 for a plain place. */
  def hubOf(ps: PageSpec, i: Long): Int =
    if (unit(ps.seed, 5, i) < ps.hubShare) pick(ps.seed, 6, i, ps.hubs) else -1

  def rec(ps: PageSpec, i: Long): Rec = {
    val s = ps.seed
    val id = hexId(s, i)
    val url = s"https://h${pick(s, 1, i, 12)}.bench.example/doc/$id"
    val name = firstNames(pick(s, 2, i, firstNames.size)) + " " +
      lastNames(pick(s, 3, i, lastNames.size))
    val rank = i + 1
    val score = 1000L + (mix(mix(s + 4) + i) >>> 1) % 900000L
    val hubIdx = hubOf(ps, i)
    val place = if (hubIdx >= 0) entityName(s, hubIdx) else word(s, pick(s, 7, i, 400), "ton")
    val nTags = 1 + pick(s, 8, i, 3)
    val t0 = pick(s, 9, i, tagPool.size)
    val tags = (0 until nTags).map(k => tagPool((t0 + k * 7) % tagPool.size))
    // skewed entity popularity: index = floor(E * u^2)
    val nMent = pick(s, 10, i, 4)
    val mentioned = (0 until nMent).map { k =>
      val u = unit(s, 11 + k, i)
      math.min(ps.entities - 1, (ps.entities * u * u).toInt)
    }
    val sb = new StringBuilder
    sb.append(s"Item $id Name: $name Rank: ${grouped(rank)} Score: ${grouped(score)} ")
    sb.append(s"Place: $place. Tags: ${tags.mkString(";")}.")
    var m = 0
    var f = 0
    while (f < ps.fillers) {
      sb.append(' ').append(filler(pick(s, 20 + f, i, filler.size)))
      if (m < nMent && f % 5 == 4) {
        sb.append(' ').append(mentionTemplates(pick(s, 40 + m, i, mentionTemplates.size))
          .format(entityName(s, mentioned(m))))
        m += 1
      }
      f += 1
    }
    while (m < nMent) { // fewer fillers than mention slots
      sb.append(' ').append(mentionTemplates(0).format(entityName(s, mentioned(m))))
      m += 1
    }
    Rec(id, url, if (i % 2 == 0) "en" else "nl", name, rank, score, place, hubIdx,
      tags, mentioned, sb.toString)
  }

  private val epoch = 1600000000000L

  /** The html a crawler would store for the same record. Extracting its
    * text (tags to spaces, script/style/comments dropped, entities
    * decoded, whitespace collapsed) gives exactly `rec(...).text`.
    */
  def htmlOf(r: Rec): String = {
    val body = r.text.stripPrefix(s"Item ${r.id} ")
      .replace("&", "&amp;")
      .replace(" Rank: ", "</h1>\n<p>Rank: <b>").replace(" Score: ", "</b> Score: <b>")
      .replace(" Place: ", "</b></p>\n<p>Place: ").replace(". Tags: ", ".<br/>Tags: ")
    s"<html><head><title>Item ${r.id}</title><style>p { margin: 0 }</style></head>\n" +
      s"<body><!-- bench page -->\n<h1 class=\"rec\">$body</p>\n" +
      s"<script>var n = '${r.id}';</script></body></html>"
  }

  def htmlPage(ps: PageSpec, i: Long): Page = {
    val r = rec(ps, i)
    Page(r.url, new Timestamp(epoch + i * 1000L),
      htmlOf(r).getBytes(java.nio.charset.StandardCharsets.UTF_8), null, r.lang)
  }

  // ---- expected output ----

  final case class Quad(s: String, p: String, kind: String, lex: String,
      dt: String, lang: String, g: String)

  def escape(x: String): String =
    x.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")

  /** One N-Quads line, the benchmark's own rendering. */
  def line(s: String, p: String, kind: String, lex: String, dt: String,
      lang: String, g: String): String = {
    val o =
      if (kind == "iri") "<" + lex + ">"
      else "\"" + escape(lex) + "\"" +
        (if (lang != null) "@" + lang else if (dt != null) "^^<" + dt + ">" else "")
    s"<$s> <$p> $o <$g> ."
  }

  /** 64-bit FNV-1a over UTF-16 units, finalized by `mix`. */
  def h64(x: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < x.length) { h = (h ^ x.charAt(i)) * 0x100000001b3L; i += 1 }
    mix(h)
  }

  /** Order-independent set digest: row count and wrapping hash sum. */
  final case class Digest(rows: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  }

  def digestOf(lines: Iterator[String]): Digest = {
    val seen = mutable.HashSet.empty[Long]
    lines.foreach(l => seen += h64(l))
    Digest(seen.size.toLong, seen.foldLeft(0L)(_ + _))
  }

  /** Min-label union-find over string nodes: the benchmark's own oracle
    * for canonicalization (canonical = lexicographically smallest URI of
    * each connected component).
    */
  def canonical(edges: Iterator[(String, String)]): mutable.HashMap[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      parent.getOrElseUpdate(ra, ra); parent.getOrElseUpdate(rb, rb)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = mutable.HashMap.empty[String, String]
    parent.keys.foreach { n => val r = find(n); if (r != n) out(n) = r }
    out
  }

  def itemUri(id: String): String = Base + "item/" + id

  /** Quads the mapping mints for one record, before canonicalization. */
  def quadsOf(seed: Long, r: Rec): Seq[Quad] = {
    val s = itemUri(r.id)
    Seq(
      Quad(s, Vocab + "rank", "literal", r.rank.toString, Xsd + "integer", null, Graph),
      Quad(s, Vocab + "score", "literal", r.score.toString, Xsd + "integer", null, Graph),
      Quad(s, Vocab + "name", "literal", r.name, null, "en", Graph),
      Quad(s, Vocab + "place", "iri", Base + "place/" + r.place, null, null, Graph),
      Quad(s, RdfType, "iri", Vocab + "Item", null, null, Graph),
      Quad(s, ProvDerived, "iri", r.url, null, null, Graph)) ++
      r.tags.map(t => Quad(s, Vocab + "tag", "literal", t, null, null, Graph)) ++
      (r.mentioned ++ Option(r.hubIdx).filter(_ >= 0)).distinct.map(k =>
        Quad(r.url, Mentions, "iri", entityUri(seed, k), null, null, Graph))
  }

  /** Expected digest of the canonicalized, deduplicated pipeline output:
    * same-as edges are (item, hub entity) for every page whose place is
    * a hub, exactly the corroborated links.
    */
  def expectedPages(ps: PageSpec): Digest = {
    val edges = (0L until ps.pages).iterator.filter(hubOf(ps, _) >= 0)
      .map(i => itemUri(hexId(ps.seed, i)) -> entityUri(ps.seed, hubOf(ps, i)))
    rewriteDigest((0L until ps.pages).iterator.flatMap(i => quadsOf(ps.seed, rec(ps, i))),
      canonical(edges))
  }

  def rewriteDigest(quads: Iterator[Quad], cmap: collection.Map[String, String]): Digest =
    digestOf(quads.map { q =>
      val s = cmap.getOrElse(q.s, q.s)
      val o = if (q.kind == "iri") cmap.getOrElse(q.lex, q.lex) else q.lex
      line(s, q.p, q.kind, o, q.dt, q.lang, q.g)
    })

  // ---- same-as graph (canon_sameas) ----

  /** Subjects link to hub entities with skewed degrees (hub index =
    * floor(H * u^3), so a few hubs are hot); a quarter also link to an
    * alias entity of the same hub; a tenth are unlinked.
    */
  final case class GraphSpec(seed: Long, subjects: Long, hubs: Int = 4000)

  def subjUri(gs: GraphSpec, i: Long): String = itemUri(hexId(gs.seed, i))

  def hubOf(gs: GraphSpec, i: Long): Int = {
    val u = unit(gs.seed, 50, i)
    math.min(gs.hubs - 1, (gs.hubs * u * u * u).toInt)
  }

  def linked(gs: GraphSpec, i: Long): Boolean = unit(gs.seed, 51, i) >= 0.10

  def edgesOf(gs: GraphSpec, i: Long): Seq[(String, String)] =
    if (!linked(gs, i)) Nil
    else {
      val h = hubOf(gs, i)
      val s = subjUri(gs, i)
      val hub = s -> entityUri(gs.seed, h)
      if (unit(gs.seed, 52, i) < 0.25)
        Seq(hub, s -> (s"http://kb.bench.example/alias/${entityName(gs.seed, h).toLowerCase}" +
          s"-${pick(gs.seed, 53, i, 3)}"))
      else Seq(hub)
    }

  def triplesOf(gs: GraphSpec, i: Long): Seq[Quad] = {
    val s = subjUri(gs, i)
    val h = hubOf(gs, i)
    val base = Seq(
      Quad(s, RdfType, "iri", Vocab + "Item", null, null, Graph),
      Quad(s, Vocab + "about", "iri", entityUri(gs.seed, h), null, null, Graph),
      Quad(s, Vocab + "label", "literal", entityName(gs.seed, h), null, "en", Graph),
      Quad(s, Vocab + "seq", "literal", i.toString, Xsd + "integer", null, Graph))
    if (unit(gs.seed, 54, i) < 0.5) {
      val j = (mix(mix(gs.seed + 55) + i) >>> 1) % gs.subjects
      base :+ Quad(s, Vocab + "seeAlso", "iri", subjUri(gs, j), null, null, Graph)
    } else base
  }

  def expectedGraph(gs: GraphSpec): Digest = {
    val cmap = canonical((0L until gs.subjects).iterator.flatMap(edgesOf(gs, _)))
    rewriteDigest((0L until gs.subjects).iterator.flatMap(triplesOf(gs, _)), cmap)
  }
}
