package graft.mentions

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Mention, Page}

/** Batched mention detection: one broadcast trie behind a `Column`
  * over the page text (the one place the pipeline deliberately leaves
  * pure Column trees — a trie scan has no relational equivalent that
  * wouldn't be a cross join; SURVEY.md §2.2 UDF row).
  *
  * [[hits]] is a projection, not a `mapPartitions`: stage A computes a
  * page's hits in the same narrow projection as its record fields, so
  * one page pass feeds the mapping, the mentions and the linker. The
  * broadcast is owned by the plans of the Columns it builds, like the
  * lookup of `ConnectedComponents.rewrite`. No shuffle, pipelined with
  * the extraction/mapping stage.
  */
object MentionDetector {

  /** One gazetteer hit in a page's text, an element of [[hits]]. */
  final case class Hit(surface: String, begin: Int, end: Int, entity_id: String)

  /** The trie over `gazetteer` as ONE broadcast: the returned function
    * maps a text Column to its `array<struct<surface, begin, end,
    * entity_id>>` of hits, in text order, and NULL text to no hits. The
    * hits are word-bounded and non-overlapping
    * (`AhoCorasick.findNonOverlapping`).
    */
  def hits(spark: SparkSession, gazetteer: Seq[(String, String)]): Column => Column = {
    val bc = spark.sparkContext.broadcast(AhoCorasick.build(gazetteer))
    val find = udf { (text: String) =>
      if (text == null) Nil
      else {
        val ac = bc.value
        ac.findNonOverlapping(text).map { h =>
          val (surface, eid) = ac.patterns(h.patternIdx)
          Hit(surface, h.begin, h.end, eid)
        }
      }
    }.withName("mention_hits")
    c => find(c)
  }

  /** Every hit of every page as a [[Mention]]: one trie scan over
    * (url, text), so the BINARY html column stays prunable at the scan
    * (input_hint: html dominates page size). The hits are exploded
    * where they are computed: over a `hits` attribute, Spark's
    * `InferFiltersFromGenerate` would add `size(hits) > 0` and
    * `isnotnull(hits)` filters and push them, trie scan and all, below
    * the projection — three scans per page.
    */
  def detect(spark: SparkSession, pages: Dataset[Page],
      gazetteer: Seq[(String, String)]): Dataset[Mention] =
    explodeHits(pages.toDF(), hits(spark, gazetteer)(col("text")))

  /** (url, surface, begin, end, entity_id), one row per element of
    * `hits` on each row of `df`.
    */
  private[graft] def explodeHits(df: DataFrame, hits: Column): Dataset[Mention] = {
    import df.sparkSession.implicits._
    df.select(col("url"), explode(hits).as("h"))
      .select(col("url"), col("h.surface"), col("h.begin"), col("h.end"), col("h.entity_id"))
      .as[Mention]
  }
}
