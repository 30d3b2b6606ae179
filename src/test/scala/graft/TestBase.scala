package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fixed at context creation: a spec that sets a checkpoint dir
      // gets reliable cuts, every other spec keeps localCheckpoint
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh local temp directory, deleted recursively when the test
    * JVM exits (the local Hadoop `FileSystem.deleteOnExit`) rather
    * than when the spec ends: a frame a spec returns may still read it
    * lazily.
    */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    require(local.deleteOnExit(new org.apache.hadoop.fs.Path(dir)), s"$dir was not registered for deletion")
    dir
  }
}

/** Independent re-implementation of the imf descriptor semantics —
  * the golden-triple oracle (FIXTURES.md F4). Deliberately NOT built
  * on RuleCompiler: plain string assembly from the record, so the two
  * paths can disagree.
  */
object TestOracle {
  import graft.fixtures.Fixtures._

  val XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
  val EX = "http://graft.local/imf/vocab/"
  val G = "http://graft.local/graph/imf"
  val RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val PROV_FROM = "http://www.w3.org/ns/prov#wasDerivedFrom"
  val MENTIONS = "http://schema.org/mentions"

  def enc(s: String): String = s.replace(" ", "%20")

  def subjectOf(country: String): String =
    "http://graft.local/imf/country/" + enc(country)

  def kbOf(country: String): String =
    s"http://kb.example.org/entity/${country.toLowerCase.replace(' ', '_')}"

  /** (s, p, o_kind, o_lex, o_datatype, o_lang, g) expected rows for
    * page i AFTER canonicalization (minted URI < kb URI
    * lexicographically, so the minted URI is always the canonical).
    */
  def expected(i: Long): Set[(String, String, String, String, String, String, String)] = {
    val r = recOf(i)
    val s = subjectOf(r.country)
    Set(
      (s, EX + "rank", "literal", r.rank.toString, XSD_INT, null, G),
      (s, EX + "gdpPerCapita", "literal", r.gdp.toString, XSD_INT, null, G),
      (s, EX + "name", "literal", r.country, null, "en", G),
      (s, RDF_TYPE, "iri", EX + "Country", null, null, G),
      (s, PROV_FROM, "iri", r.url, null, null, G),
      (r.url, MENTIONS, "iri", s, null, null, G) // kb URI rewritten to canon
    )
  }

  def expectedAll(n: Long): Set[(String, String, String, String, String, String, String)] =
    (0L until n).flatMap(expected).toSet
}
