package graft.run

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Executed

import graft.canon.ConnectedComponents
import graft.emit.TripleEmitter
import graft.extract.HtmlText
import graft.link.Linker
import graft.mentions.MentionDetector
import graft.model.Page
import graft.rules.RuleCompiler
import graft.spec.TableSpec
import graft.util.Cut

/** End-to-end KG construction (the reference's flagship `/convert`
  * path generalized to web pages — SURVEY.md §3.2):
  *
  *   pages → [Stage A: extract fields → mint triples ⊕ detect mentions
  *   → link → same-as edges]  (narrow, per-page, bucket-resumable)
  *   → [Stage B: connected components → canonical rewrite → dedup]
  *   (global, deterministic, re-runnable)
  *
  * Scale commitments (SURVEY.md §4.3):
  *   - Stage A reads each page ONCE: one narrow projection computes
  *     every page's record fields and mention hits (a broadcast-trie
  *     Column), and one `Cut` of it feeds the mapping (pure Column
  *     trees, codegen), the mention triples and the linker. The cut
  *     holds fields and hits, never text or html, so it is smaller than
  *     the triples minted from it. No shuffle until the linker's join.
  *   - The store's own tables (pages, triples, edges, lineage) are read
  *     with their fixed schemas, and lineage is summed on the driver:
  *     store metadata starts no job.
  *   - Identity never derives from row position: buckets and URIs are
  *     functions of url/content only, so output is invariant under
  *     partitioning and parallelism (bench relies on this).
  *   - Resumability: Stage A materializes triples/edges partitioned by
  *     `bucket = pmod(xxhash64(url), n)` with a lineage row per bucket;
  *     a resumed run anti-joins finished buckets and appends. Stage B
  *     re-runs over all materialized buckets (cheap relative to the
  *     page scan, and required for cross-bucket components).
  *   - Skew: min() aggregations in CC and canonical election are
  *     algebraic, so Spark's partial (map-side) aggregation already
  *     absorbs hot keys. The canonical rewrite is a broadcast lookup,
  *     not a join, up to `broadcastCanonLimit` map entries, so a hot
  *     subject is rewritten where it lies; above it, AQE skew-join
  *     splitting applies to the shuffle joins on skewed subjects.
  */
object Pipeline {

  final case class Config(
      descriptorJson: String,
      gazetteer: Seq[(String, String)],
      outDir: Option[String] = None,
      nBuckets: Int = 64,
      runId: String = "run-0",
      linkThreshold: Double = 0.9,
      trustText: Boolean = true,
      anchorField: String = "country",
      maxCcIterations: Int = 25,
      broadcastCanonLimit: Long = ConnectedComponents.defaultBroadcastCanonLimit)

  val MENTIONS_P = "http://schema.org/mentions"

  /** Deterministic html→text, applied only where `text` is NULL so the
    * BINARY html column stays prunable when text is present
    * (input_hint provides both; SURVEY.md §4.2 row 1).
    */
  private val extractUdf =
    udf((html: Array[Byte]) => if (html == null) null else HtmlText.extract(html))
      .withName("html_text")

  def ensureText(pages: Dataset[Page], trustText: Boolean): DataFrame =
    if (trustText) pages.toDF()
    else pages.toDF().withColumn("text", coalesce(col("text"), extractUdf(col("html"))))

  /** Stage A on a set of pages: (triples with bucket, sameAs edges with
    * bucket), all from ONE cut of [[pageCut]]: the pages are read once.
    */
  def stageA(spark: SparkSession, pages: Dataset[Page], cfg: Config): (DataFrame, DataFrame) =
    stageAOf(spark, Cut.cut(pageCut(spark, pages, cfg)), cfg)

  /** Stage A's one page pass, one narrow projection over the pages
    * with text: per page `url`, `lang`, the descriptor's extracted
    * fields, the mention `hits` (`MentionDetector.hits`) and `bucket`.
    * No `text` and no `html`: the mapping, the mentions and the
    * linker's subjects all read fields or hits, so this is the cheap
    * side to keep, smaller than the triples stage A mints from it.
    */
  private[graft] def pageCut(spark: SparkSession, pages: Dataset[Page], cfg: Config): DataFrame = {
    val hits = MentionDetector.hits(spark, cfg.gazetteer)
    val withText = ensureText(pages, cfg.trustText).withColumn("hits", hits(col("text")))
    RuleCompiler.extractFields(withText, TableSpec.fromJson(cfg.descriptorJson), Seq("hits"))
      .withColumn("bucket", TripleEmitter.bucketOf(col("url"), cfg.nBuckets))
  }

  /** Stage A's outputs over a cut [[pageCut]]: the mapped and mention
    * triples, and the same-as edges the linker draws between the
    * mentions and the records' subjects. Every job re-reads the cut.
    */
  private def stageAOf(spark: SparkSession, cut: DataFrame, cfg: Config): (DataFrame, DataFrame) = {
    val ts = TableSpec.fromJson(cfg.descriptorJson)
    val mapped = RuleCompiler.triples(cut, ts, ts.graph, passThrough = Seq("bucket"))
    val mentions = MentionDetector.explodeHits(cut, col("hits"))
    val mentionTriples = cut.select(col("url"), explode(col("hits.entity_id")).as("e"), col("bucket"))
      .select(
        col("url").as("s"), lit(MENTIONS_P).as("p"), lit("iri").as("o_kind"),
        col("e").as("o_lex"),
        lit(null).cast("string").as("o_datatype"), lit(null).cast("string").as("o_lang"),
        lit(ts.graph).as("g"), col("bucket"))

    val subjects = cut.select(col("url"),
      RuleCompiler.subjectColumn(ts).as("subj"), col(cfg.anchorField).as("anchor"))
    val edges = Linker.sameAsEdges(spark, mentions, subjects, cfg.linkThreshold)
      .withColumn("bucket", TripleEmitter.bucketOf(col("src"), cfg.nBuckets))

    (mapped.unionByName(mentionTriples), edges)
  }

  /** Stage B: connected components over the same-as edges, then
    * [[canonicalize]]: one canonical rewrite of subjects and IRI
    * objects, then content dedup. `broadcastCanonLimit` and the
    * executor-memory byte budget (`ConnectedComponents.lookupBudget`)
    * gate the rewrite's lookup broadcast; both gates live in
    * `ConnectedComponents.rewrite`.
    */
  def stageB(spark: SparkSession, triples: DataFrame, edges: DataFrame,
      maxCcIterations: Int = 25,
      broadcastCanonLimit: Long = ConnectedComponents.defaultBroadcastCanonLimit): DataFrame =
    canonicalize(spark, triples,
      ConnectedComponents.components(spark, edges.select("src", "dst"),
        maxCcIterations, ConnectedComponents.localEdgeThreshold),
      broadcastCanonLimit, ConnectedComponents.lookupBudget(spark))

  /** Stage B after CC: `s`, and `o_lex` where `o_kind` is `iri`, go
    * through the one canonical rewrite of the components `cc`
    * (`ConnectedComponents.rewrite`, which owns the lookup-or-join
    * decision and its gates `broadcastCanonLimit` and `budget`), then
    * content dedup. Both columns share the rewrite's one lookup
    * broadcast, or its one canonical map.
    */
  private[graft] def canonicalize(spark: SparkSession, triples: DataFrame,
      cc: Either[Array[(String, String)], (DataFrame, Int)],
      broadcastCanonLimit: Long, budget: Long): DataFrame = {
    val canonical = ConnectedComponents.rewrite(spark, cc, broadcastCanonLimit, budget)
    val rewritten = canonical(canonical(triples, "s", None), "o_lex", Some(col("o_kind") === "iri"))
    TripleEmitter.dedup(
      rewritten.select("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g"))
  }

  /** One-shot in-memory run (tests, bench). */
  def run(spark: SparkSession, pages: Dataset[Page], cfg: Config): DataFrame = {
    val (triples, edges) = stageA(spark, pages, cfg)
    stageB(spark, triples.drop("bucket"), edges.drop("bucket"), cfg.maxCcIterations,
      cfg.broadcastCanonLimit)
  }

  /** Job-level metric counters (M2 — replaces the reference's
    * log-the-input-size telemetry, src/cattle.py:231, and the absent
    * monitoring its druid workflow laments, druid.md:27-30). Collected
    * with ONE aggregate job per materialized table — no accumulator
    * double-counting under task retries.
    */
  final case class RunMetrics(
      run_id: String,
      rule_set_hash: String,
      buckets_done: Long,
      buckets_skipped: Long,
      triples_materialized: Long,
      subjects: Long,
      edges: Long,
      triples_out: Long,
      wall_ms: Long)

  /** runResumable + a metrics row persisted to `outDir/metrics`
    * (queryable alongside the lineage table — the monitoring story).
    * Stage B runs once: the count behind `triples_out` executes its
    * plan, and the returned frame reads that run's result
    * (`graftbridge.Executed`), so a sink re-reads the dedup shuffle
    * instead of rescanning the store and shuffling again, and writes
    * exactly the `triples_out` rows counted. The frame holds the dedup
    * shuffle files while it is reachable; nothing else is kept.
    */
  def runResumableWithMetrics(spark: SparkSession, pages: Dataset[Page],
      cfg: Config): (DataFrame, RunMetrics) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val r = resume(spark, pages, cfg)
    val (out, outCount) = Executed.count(r.out)
    // this hash's lineage rows (≤ nBuckets per commit), summed on the driver
    val lineage = TripleEmitter.readLineage(spark, r.outDir)
      .filter(col("rule_set_hash") === lit(r.hash))
      .select("bucket", "triples", "subjects").as[(Int, Long, Long)]
      .collect()
    val m = RunMetrics(cfg.runId, r.hash,
      buckets_done = lineage.map(_._1).distinct.length - r.skipped,
      buckets_skipped = r.skipped.toLong,
      triples_materialized = lineage.map(_._2).sum,
      subjects = lineage.map(_._3).sum,
      edges = r.edges.count(),
      triples_out = outCount,
      wall_ms = (System.nanoTime() - t0) / 1000000L)
    Seq(m).toDS().write.mode(SaveMode.Append).parquet(s"${r.outDir}/metrics")
    (out, m)
  }

  /** Lifecycle delete (M3 — the reference removes a conversion's whole
    * job folder, /root/reference/src/cattle.py:372-385): removes a
    * materialized store (triples/ edges/ lineage/ metrics/ serialized/)
    * AFTER verifying ownership — the lineage table records which
    * rule-set hash built the store, and triple rows are NOT hash-tagged
    * (buckets from different rule sets would be indistinguishable), so
    * a store whose lineage names a DIFFERENT hash is refused unless
    * `force`. Idempotent: a missing store deletes 0 and succeeds, like
    * re-deleting in the reference. Uses the Hadoop FileSystem API, so
    * the same call works on a DFS under spark-submit.
    *
    * @return lineage rows removed (0 for a store that never committed)
    */
  def delete(spark: SparkSession, outDir: String, ruleSetHash: String,
      force: Boolean = false): Long = {
    import org.apache.hadoop.fs.Path
    val storeDirs = Seq("triples", "edges", "lineage", "metrics", "serialized")
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val removed =
      if (!TripleEmitter.exists(spark, s"$outDir/lineage")) {
        // no lineage table = ownership UNVERIFIABLE. Data with no
        // lineage (mid-write crash leftovers, or a mistyped --out
        // pointing at a foreign directory) must not be deleted on an
        // unverified claim (code-review round 4); only a fully empty
        // store is the idempotent 0-row no-op.
        val dataDirs = storeDirs.filter(d => TripleEmitter.exists(spark, s"$outDir/$d"))
        require(force || dataDirs.isEmpty,
          s"store $outDir has data (${dataDirs.mkString(",")}) but no lineage " +
            "table — ownership unverifiable, refusing to delete (force=true overrides)")
        0L
      } else {
        val lineage = TripleEmitter.readLineage(spark, outDir)
        val hashes = lineage.select("rule_set_hash").distinct()
          .collect().map(_.getString(0)).toSet
        require(force || hashes.subsetOf(Set(ruleSetHash)),
          s"store $outDir holds rule sets ${hashes.mkString(",")}, not only " +
            s"$ruleSetHash — refusing to delete mixed ownership (force=true overrides)")
        lineage.filter(col("rule_set_hash") === ruleSetHash).count()
      }
    storeDirs.foreach(d => fs.delete(new Path(root, d), true))
    removed
  }

  /** Materializing, bucket-resumable run. Stage A skips buckets whose
    * lineage row is already committed for this rule-set hash; Stage B
    * recomputes the global canonical triple set from everything
    * materialized. Returns the final deduped triples.
    */
  def runResumable(spark: SparkSession, pages: Dataset[Page], cfg: Config): DataFrame =
    resume(spark, pages, cfg).out

  /** One resumable run: the store it ran against, the final triples,
    * how many buckets the lineage snapshot let it skip, and the edge
    * store stage B canonicalized over.
    */
  private final case class Resumed(outDir: String, hash: String, out: DataFrame,
      skipped: Int, edges: DataFrame)

  private def resume(spark: SparkSession, pages: Dataset[Page], cfg: Config): Resumed = {
    val outDir = cfg.outDir.getOrElse(sys.error("runResumable requires outDir"))
    val hash = TableSpec.ruleSetHash(cfg.descriptorJson)
    val done = TripleEmitter.doneBuckets(spark, outDir, hash) // eager snapshot

    val bucket = TripleEmitter.bucketOf(col("url"), cfg.nBuckets)
    import spark.implicits._
    val todo =
      (if (done.isEmpty) pages.toDF()
       else pages.toDF().filter(!bucket.isin(done.toSeq: _*))).as[Page]

    // the one page pass; the emptiness test reads the cut, not the pages
    val cut = Cut.cut(pageCut(spark, todo, cfg))
    if (!cut.isEmpty) {
      val (triples, edges) = stageAOf(spark, cut, cfg)
      // edges land before writeStage commits lineage (its scaladoc)
      edges.write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$outDir/edges")
      TripleEmitter.writeStage(spark, triples, outDir, hash, cfg.runId)
    }

    val allTriples = TripleEmitter.readTriples(spark, outDir)
    val allEdges = TripleEmitter.readEdges(spark, outDir)
    Resumed(outDir, hash,
      stageB(spark, allTriples, allEdges, cfg.maxCcIterations, cfg.broadcastCanonLimit),
      done.size, allEdges)
  }
}
