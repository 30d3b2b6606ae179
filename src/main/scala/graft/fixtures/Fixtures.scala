package graft.fixtures

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, concat, explode, lit, regexp_replace, sequence}

import graft.model.Page

/** Deterministic synthetic corpora (FIXTURES.md F1/F2/F3/F7).
  *
  * Everything here is a pure function of the row index — no wall
  * clock, no java.util.Random state threading — so generation is
  * distributed (spark.range → map) and the corpus is identical under
  * any partitioning or parallelism, which the scaling bench and the
  * determinism property tests rely on.
  *
  * The record content mirrors the reference's only fixture
  * (reference: data/imf.csv:1-9 — `Rank;Country;Int`, `;`-delimited,
  * digit-grouped numerics like `131,063`), re-expressed as web pages
  * per the north rule.
  */
object Fixtures {

  /** splitmix64 — deterministic per-index pseudo-randomness. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** The 8 records of the reference fixture (data/imf.csv:2-9). */
  val imf: Seq[(Int, String, Long)] = Seq(
    (1, "Qatar", 131063L),
    (2, "Luxembourg", 104906L),
    (3, "Macau", 96832L),
    (4, "Singapore", 90249L),
    (5, "Brunei Darussalam", 83513L),
    (6, "Kuwait", 72675L),
    (7, "Ireland", 72524L),
    (8, "Norway", 70645L)
  )

  /** Country pool: the imf 8 + synthetic names (incl. an overlapping
    * pair for trie longest-match tests, FIXTURES.md F2).
    */
  val countries: IndexedSeq[String] =
    imf.map(_._2).toIndexedSeq ++ IndexedSeq(
      "Korea", "South Korea", "Atlantis", "Elbonia", "Freedonia",
      "Genovia", "Latveria", "Sokovia", "Wakanda", "Zubrowka",
      "Agrabah", "Arendelle", "Avalon", "Borduria", "Carpania",
      "Florin", "Guilder", "Krakozhia", "Markovia", "Narnia",
      "Oceania", "Patusan", "Ruritania", "Syldavia"
    )

  /** Host pool with a fixed skewed assignment — a few hostnames are
    * hot (≈35% on host 0) so skew-salting paths get exercised.
    */
  val hosts: IndexedSeq[String] =
    (0 until 12).map(i => s"host$i.example.org")

  def hostOf(i: Long): String = {
    val r = (mix(i) >>> 1) % 100
    val idx =
      if (r < 35) 0
      else if (r < 55) 1
      else if (r < 70) 2
      else (3 + (r - 70) % 9).toInt
    hosts(idx)
  }

  /** Digit-grouped rendering, the reference's numeric lexical trap
    * (data/imf.csv:2 `131,063`).
    */
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

  final case class Rec(i: Long, rank: Int, country: String, gdp: Long) {
    def url: String = s"https://${hostOf(i)}/item/$i"
  }

  def recOf(i: Long): Rec =
    if (i < 8) { val (r, c, g) = imf(i.toInt); Rec(i, r, c, g) }
    else {
      val h = mix(i)
      Rec(i, (i + 1).toInt, countries(((h >>> 8) % countries.size).toInt.abs),
        20000L + ((h >>> 16) % 120000L).abs)
    }

  /** The html template. Exercises tags, attributes, comments,
    * script/style stripping and entities.
    */
  def htmlOf(r: Rec): String =
    s"""<html><head><title>GDP record ${r.i}</title>
       |<style>body { font-size: 1em; }</style></head>
       |<body><!-- generated fixture, do not edit -->
       |<h1 class="hd">Country profile: ${r.country}</h1>
       |<p>Rank: <b>${grouped(r.rank.toLong)}</b></p>
       |<p>GDP per capita &#40;Int$$&#41;: <b>${grouped(r.gdp)}</b></p>
       |<script type="text/javascript">var x = ${r.i};</script>
       |</body></html>""".stripMargin

  /** Expected extracted text, built INDEPENDENTLY of HtmlText.extract
    * — the byte-identity invariant test compares the two paths.
    */
  def textOf(r: Rec): String =
    s"GDP record ${r.i} Country profile: ${r.country} " +
      s"Rank: ${grouped(r.rank.toLong)} " +
      s"GDP per capita (Int$$): ${grouped(r.gdp)}"

  val epoch: Long = 1500000000000L // fixed; no wall clock

  def pageOf(i: Long): Page = {
    val r = recOf(i)
    Page(
      url = r.url,
      warc_ts = new Timestamp(epoch + i * 1000L),
      html = htmlOf(r).getBytes(java.nio.charset.StandardCharsets.UTF_8),
      text = textOf(r),
      lang = if (i % 2 == 0) "en" else "nl"
    )
  }

  private val noHtml = Array.emptyByteArray

  /** pageOf without materializing html — the generator analogue of
    * parquet column pruning: when the pipeline trusts `text`, a real
    * scan never deserializes the BINARY html column (SURVEY.md §4.2
    * row 1), so a bench that generates it anyway measures allocation
    * the production job wouldn't do.
    */
  def pageOfNoHtml(i: Long): Page = {
    val r = recOf(i)
    Page(
      url = r.url,
      warc_ts = new Timestamp(epoch + i * 1000L),
      html = noHtml,
      text = textOf(r),
      lang = if (i % 2 == 0) "en" else "nl"
    )
  }

  /** Distributed deterministic page corpus. */
  def pages(spark: SparkSession, n: Long, partitions: Int = 32,
      withHtml: Boolean = true): Dataset[Page] = {
    import spark.implicits._
    val f = if (withHtml) pageOf _ else pageOfNoHtml _
    spark.range(0L, n, 1L, partitions).as[Long].map(f)
  }

  /** Filler sentences for bench-scale pages: no country names (so the
    * golden mention/link structure is unchanged), realistic length.
    */
  private val fillerPool: IndexedSeq[String] = IndexedSeq(
    "The measurement was repeated under identical conditions.",
    "Officials declined to comment on the preliminary figures.",
    "Analysts expect the trend to continue through the quarter.",
    "The committee published its findings after a long review.",
    "Local markets responded slowly to the announcement.",
    "A spokesperson confirmed the schedule remains unchanged.",
    "The archive contains records dating back several decades.",
    "Researchers cautioned against overinterpreting the data.",
    "The report highlights persistent regional differences.",
    "Infrastructure investment rose for the third straight year.",
    "The survey covered households across twelve districts.",
    "Export volumes recovered after the seasonal slowdown.",
    "The index is computed from publicly available sources.",
    "Observers noted a gradual shift in consumption patterns.",
    "The revised estimate supersedes earlier projections.",
    "Methodological notes are appended to the main table.")

  /** Bench corpus: the same records wrapped in Common-Crawl-realistic
    * page text (~`fillerSentences` extra sentences, deterministic per
    * index). The extraction regexes and mention structure are identical
    * to [[pages]]; only the surrounding prose grows, as on real pages.
    */
  def benchPages(spark: SparkSession, n: Long, partitions: Int = 32,
      fillerSentences: Int = 24): Dataset[Page] = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions).as[Long].map { i =>
      val p = pageOfNoHtml(i)
      val sb = new StringBuilder(p.text)
      var k = 0
      while (k < fillerSentences) {
        sb.append(' ').append(fillerPool(((mix(i * 131L + k) >>> 7) % fillerPool.size).toInt.abs))
        k += 1
      }
      p.copy(text = sb.toString)
    }
  }

  /** F2 gazetteer: surfaces → canonical-candidate entity URIs. The
    * distractors must never match any fixture text (precision tests).
    */
  def gazetteer: Seq[(String, String)] = {
    val real = countries.map(c =>
      c -> s"http://kb.example.org/entity/${c.toLowerCase.replace(' ', '_')}")
    val distractors = Seq("Quxland", "Blorptopia").map(c =>
      c -> s"http://kb.example.org/entity/${c.toLowerCase}")
    real ++ distractors
  }

  /** F7: the boilerplate sentence every [[dedupCorpus]] document ends
    * with; its shingles reach df = |corpus| and must be cut by the df
    * guard.
    */
  val dedupBoiler = "click here to subscribe to our newsletter for updates today"

  /** F7: `copies`× the sf documents table. Copy c of a document
    * prefixes every token with `c<c>_`, so copies share NO shingles
    * (the index scales without manufacturing quadratic near-dup
    * structure), and every document gets [[dedupBoiler]] appended.
    */
  def dedupCorpus(spark: SparkSession, sfDir: String, copies: Int): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
    docs.select(
      (col("doc_id") * copies + col("c")).as("doc_id"),
      concat(
        // prefix every token with the copy tag (disjoint shingle space)
        concat(lit("c"), col("c"), lit("_")),
        regexp_replace(col("text"), lit("\\s+"),
          concat(lit(" c"), col("c"), lit("_"))),
        lit(" "), lit(dedupBoiler)).as("text"))
  }
}
