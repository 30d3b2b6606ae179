package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Mention

/** Entity-link scoring + same-as edge construction.
  *
  * Candidates come from the mention detector (exact gazetteer surface
  * hits). Scoring is relational and codegen'd — one aggregation over
  * the mention set, then pure integer Column arithmetic. All features
  * and the score are exact integers (basis points), so a SQL oracle
  * re-derives them bit-for-bit (`kg_link_scores`); no floating point
  * anywhere near an ordering or a threshold.
  *
  * Feature model (per candidate = (url, entity)):
  *   - corroborated: some mention's surface IS the page's own extracted
  *     record field (`anchor`) — the strongest evidence, the record and
  *     the text agree. Basis 9000 bp.
  *   - bare textual hit: basis 5000 bp.
  *   - repeat mentions: +250 bp per extra mention, capped at +500
  *     (frequency saturates fast as link evidence).
  *   - lead position: +300 bp when the first mention starts in the
  *     first 64 chars (title/lead sentence).
  *   - long surface: +200 bp when the surface is ≥ 6 chars (longer
  *     surfaces are less ambiguous).
  * Bands stay DISJOINT by construction: bare ≤ 6000 < 9000 ≤
  * corroborated, so a threshold of 0.9 (9000 bp) admits exactly the
  * corroborated candidates while 0.5 admits every textual hit — the
  * threshold is a precision/recall dial with two calibrated stops.
  *
  * The records side carries (url, subject URI, entity field); the join
  * is per-url equi (narrow-ish: mentions and records both derive from
  * the same pages scan — Catalyst plans a shuffle join keyed on url,
  * or a broadcast when the records side is small). The mention
  * aggregation is algebraic (count/min/max), so map-side partials
  * absorb hot pages before the shuffle.
  */
object Linker {

  val CORROBORATED_BP = 9000
  val BARE_BP = 5000

  /** Hard cap on the annLink gazetteer collect (ADVICE round 5): 4M
    * 64-float rows ≈ 1 GB on the driver — the most we ever want pulled
    * for a broadcast index; above it the contract is breached and the
    * call fails at the collect, bounded, instead of OOMing mid-job.
    */
  val maxEntityRows: Int = 4000000

  /** Per-candidate link features + integer score.
    *
    * @param mentions detected mentions
    * @param subjects DataFrame (url, subj, anchor) where `anchor` is
    *                 the record field a mention must corroborate for a
    *                 full-confidence link (e.g. the extracted country)
    * @return DataFrame (url, subj, entity_id, n_mentions, first_begin,
    *         corroborated, score_bp) — all integers
    */
  def linkFeatures(
      spark: SparkSession,
      mentions: Dataset[Mention],
      subjects: DataFrame): DataFrame = {
    // per-mention features are computed BEFORE the aggregation so every
    // aggregation buffer is a primitive long — that keeps the agg a
    // HashAggregate (string min/max would demote it to SortAggregate)
    // and makes corroboration "ANY mention (any alias surface) matches
    // the anchor", the right semantics for multi-surface gazetteers
    mentions.toDF().join(subjects, "url")
      .select(col("url"), col("subj"), col("entity_id"),
        col("begin").cast("long").as("begin"),
        when(col("surface") === col("anchor"), lit(1L)).otherwise(lit(0L)).as("corr"),
        length(col("surface")).cast("long").as("slen"))
      .groupBy(col("url"), col("subj"), col("entity_id"))
      .agg(
        count(lit(1)).as("n_mentions"),
        min(col("begin")).as("first_begin"),
        max(col("corr")).as("corroborated"),
        max(col("slen")).as("surface_len"))
      .withColumn("score_bp",
        when(col("corroborated") === 1L, lit(CORROBORATED_BP.toLong))
          .otherwise(lit(BARE_BP.toLong)) +
        lit(250L) * least(col("n_mentions") - 1L, lit(2L)) +
        when(col("first_begin") < 64L, lit(300L)).otherwise(lit(0L)) +
        when(col("surface_len") >= 6L, lit(200L)).otherwise(lit(0L)))
      .select(col("url"), col("subj"), col("entity_id"),
        col("n_mentions"), col("first_begin"), col("corroborated"),
        col("score_bp"))
  }

  /** Embedding-based link CANDIDATES — recall beyond exact surface
    * matching (VERDICT round 4, item 4): a mention context whose
    * surface never string-matches a gazetteer alias can still link to
    * the entity whose embedding it sits next to.
    *
    * 100 TB shape: the GAZETTEER side (entity embeddings + their
    * sign-LSH bucket index) is broadcast — gazetteers are millions of
    * rows, not billions — and the context corpus streams through ONE
    * narrow mapPartitions stage: per context, probe the `tables`
    * broadcast buckets, union the entity candidates, re-rank by exact
    * cosine, emit top-k. ZERO shuffles, no self-join, no candidate
    *-pair blowup — linking at scan speed, the same broadcast-structure
    * discipline as the Aho-Corasick mention detector. (Contrast
    * [[graft.ops.Similarity.lshTopK]], which solves the symmetric
    * corpus×corpus problem with a bucket join; here the asymmetry —
    * tiny entity side, huge context side — is the whole design.)
    *
    * Determinism: planes/buckets come from [[graft.ops.Portable]]
    * (exact dyadic components, fixed-order folds), ranking is
    * (round5(cosine) DESC, entity_id ASC) — partitioning-invariant and
    * bit-reproducible by the SQL oracle (`kg_link_ann`).
    *
    * Typed mapPartitions, not Column HOFs: the per-row probe loop over
    * broadcast arrays is exactly the signature-loop case where Spark's
    * higher-order Column functions run interpreted (round-1 finding).
    *
    * @param contexts (ctx_id, embedding) — the big side, streamed
    * @param entities (entity_id, embedding) — the gazetteer, collected
    *                 to the driver and broadcast (bounded by contract)
    * @param minSim   drop candidates below this exact cosine
    * @return (ctx_id, rk, entity_id, sim) — ≤ k rows per context
    */
  def annLinkCandidates(contexts: DataFrame, entities: DataFrame, k: Int,
      tables: Int = 8, bits: Int = 3, dim: Int = 64,
      minSim: Double = 0.0): DataFrame =
    annLink(contexts, entities, k, tables, bits, dim, minSim, bucketed = true)

  /** Brute-force twin of [[annLinkCandidates]]: scores EVERY entity per
    * context (no bucket pruning). Same broadcast + narrow-stage plan —
    * the gazetteer is small, so exhaustive scoring is viable and serves
    * as the exact recall denominator (`kg_link_ann_recall`).
    */
  def annLinkBrute(contexts: DataFrame, entities: DataFrame, k: Int,
      dim: Int = 64, minSim: Double = 0.0): DataFrame =
    annLink(contexts, entities, k, tables = 1, bits = 1, dim, minSim, bucketed = false)

  private def annLink(contexts: DataFrame, entities: DataFrame, k: Int,
      tables: Int, bits: Int, dim: Int, minSim: Double,
      bucketed: Boolean): DataFrame = {
    import graft.ops.{Dedup, Similarity}
    val spark = contexts.sparkSession
    import spark.implicits._
    val planes = Similarity.hyperplanes(tables, bits, dim)
    // gazetteer → driver: bounded by contract (entity tables are the
    // small side), and the contract is ENFORCED (ADVICE round 5): a
    // breach fails at the one bounded collect, not as a driver OOM
    val capped = graft.util.Collect.bounded(
      entities.select(col("entity_id").cast("long"), col("embedding")),
      maxEntityRows, "annLink entity side",
      "the gazetteer must be the broadcastable small side (raise " +
        "Linker.maxEntityRows deliberately, or use the bucketed " +
        "corpus-vs-corpus dedup ops)")
    val ents: Array[(Long, Array[Float])] = capped
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val index: Map[(Int, Long), Array[Int]] =
      if (!bucketed) Map.empty
      else ents.indices.flatMap { i =>
        (0 until tables).map(t => (t, Similarity.bucketOf(ents(i)._2, planes(t))) -> i)
      }.groupBy(_._1).map { case (key, xs) => key -> xs.map(_._2).toArray }
    val bc = spark.sparkContext.broadcast((ents, index))
    val nt = tables
    contexts.select(col("ctx_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (es, idx) = bc.value
        it.flatMap { case (cid, emb) =>
          val cand: Array[Int] =
            if (!bucketed) es.indices.toArray
            else {
              val s = scala.collection.mutable.SortedSet.empty[Int]
              var t = 0
              while (t < nt) {
                idx.get((t, Similarity.bucketOf(emb, planes(t))))
                  .foreach(s ++= _)
                t += 1
              }
              s.toArray
            }
          // NaN (a zero norm) has no similarity and is never ranked
          cand.iterator
            .map(i => (es(i)._1, Dedup.cosineOf(emb, es(i)._2)))
            .filterNot(_._2.isNaN)
            .map { case (eid, raw) => (eid, Dedup.round5(raw)) }
            .filter(_._2 >= minSim)
            .toArray.sortBy { case (eid, sim) => (-sim, eid) }
            .take(k).iterator.zipWithIndex
            .map { case ((eid, sim), r) => (cid, (r + 1).toLong, eid, sim) }
        }
      }
      .toDF("ctx_id", "rk", "entity_id", "sim")
  }

  /** Same-as candidate edges between the MINTED subject URI and the KB
    * entity URI — the input to canonicalization. `threshold` is the
    * fractional score (0.9 ⇒ 9000 bp ⇒ corroborated-only).
    *
    * @return DataFrame (src, dst, score) — score as a fraction of the
    *         10000-bp scale (exact 4-decimal dyadic, safe to carry)
    */
  def sameAsEdges(
      spark: SparkSession,
      mentions: Dataset[Mention],
      subjects: DataFrame,
      threshold: Double): DataFrame = {
    val thresholdBp = math.round(threshold * 10000).toLong
    linkFeatures(spark, mentions, subjects)
      .filter(col("score_bp") >= thresholdBp)
      // many pages can propose the same (subj, entity) edge at
      // different evidence levels; keep the BEST score per edge (one
      // groupBy — the same shuffle a distinct would cost)
      .groupBy(col("subj").as("src"), col("entity_id").as("dst"))
      .agg((max(col("score_bp")).cast("double") / 10000.0).as("score"))
  }
}
