package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents

/** Deduplication operators for training-data curation, each designed
  * around its 100 TB shuffle shape:
  *
  *  - exact: one hash-groupBy shuffle on a 32-byte key (never on the
  *    document body itself — map-side partial agg absorbs hot groups).
  *  - n-gram Jaccard: inverted-index self-join with a document-frequency
  *    cap (`maxDf`) so a stop-shingle ("of the and") can never create an
  *    O(n²) bucket — the cap is the scale knob.
  *  - MinHash+LSH: signatures are pure Column trees (higher-order
  *    functions over the shingle array, codegen'd); the only shuffle is
  *    the band-bucket self-join, whose bucket sizes LSH bounds with high
  *    probability; candidates are verified with exact Jaccard.
  *  - SimHash: 64-bit signature, banded into 4×16-bit chunks (any
  *    near-dup pair within Hamming distance 3 shares ≥1 exact chunk —
  *    pigeonhole), then verified with bit_count(xor).
  *
  * All signatures derive from content only (portable 31-bit hashing of
  * shingle text — graft.ops.Portable), never from row position —
  * results are invariant under partitioning and parallelism
  * (SURVEY.md §4.3) AND bit-reproducible by the SQL oracle.
  *
  * Cache lifecycle: the signature/shingle frames feed both sides of a
  * self-join (and the verify joins), so they are materialized ONCE via
  * [[graft.util.Cut.cut]] — an eager lineage cut whose storage is
  * owned by the returned result and reclaimed automatically when the
  * result goes out of scope. Callers never manage cache (the old
  * contract pushed clearCache() onto them; VERDICT round 2, item 8).
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup via content hash: one row per distinct text, keeping
    * the smallest doc_id (deterministic representative election).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))

  // ---------- shingling ----------

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted index.
    *
    * Shingles with document frequency 1 can't contribute to any pair
    * and are dropped before the self-join; shingles with df > maxDf are
    * treated as stop-shingles (scale guard — at web scale a handful of
    * boilerplate shingles would otherwise quadratically dominate).
    * Set sizes are computed BEFORE any df filtering so the Jaccard
    * denominator is the true |A ∪ B|.
    */
  /** Default stop-shingle cap: well above any real shingle's df at test
    * scale (sf0.1 max df = 25) so the oracle stays exact, but finite —
    * a boilerplate shingle at web scale can never create a bucket with
    * more than maxDf² candidate pairs. The SQL oracle mirrors the cap
    * (df BETWEEN 2 AND maxDf on the posting list), so correctness
    * holds even when the guard fires.
    */
  val defaultMaxDf: Long = 10000L

  /** Shared inverted-index core: per ordered doc pair, shingle-set
    * sizes + intersection count — the sufficient statistics for every
    * set-overlap measure (Jaccard, containment, dice, …).
    */
  private def ngramInterCounts(docs: DataFrame, n: Int, maxDf: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // typed shingling, cut once: the shingle sets feed both sides of
    // the posting self-join (see minhashLshPairs for the HOF rationale)
    val sh = graft.util.Cut.cut(docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val s = shingleSet(text, n)
          if (s.isEmpty) None else Some((id, s, s.length.toLong))
        }
      }
      .toDF("doc_id", "sh", "sz"))
    val posting = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("shingle"))
    // df guard as groupBy-count + join (ADVICE round 5): the round-5
    // WINDOW spelling funneled a mega-hot shingle's full posting list
    // through ONE window task that AQE cannot split — the exact skew
    // class passageDedup documents — and paid a per-partition SORT of
    // the whole posting list; the groupBy's map-side partial
    // aggregation absorbs hot shingles instead, and the join back is
    // AQE-skew-splittable. shuffle_hash pins the join away from the
    // broadcast the round-4 100× run proved fatal: the kept-shingle
    // table grows with the corpus, and AQE's runtime size estimate
    // admitted it as a driver HashedRelation that OOMed
    // (`BenchExtra --dedup-scale`; VERDICT r4 item 6) — same refusal as
    // passageDedup's ownership join. Both aggregate and join key on
    // shingle, so the posting exchange is planned once and reused.
    val keep = posting.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select("shingle")
    val p = posting.join(keep.hint("shuffle_hash"), "shingle")
    // the pair SELF-join is left unhinted, exactly as round 5 planned
    // it: at bench scale the planner broadcasts the kept posting side
    // (cheap, safe at these sizes), at production scale real stats
    // push it to a shuffled join AQE can skew-split — forcing
    // shuffle_hash here measured +0.6-1.1 s per consumer at sf0.1 by
    // duplicating the shuffled subtree on both sides.
    p.as("a").join(p.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
  }

  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
      maxDf: Long = defaultMaxDf): DataFrame =
    ngramInterCounts(docs, n, maxDf)
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 5))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")

  /** Containment near-dup pairs: |A ∩ B| / min(|A|, |B|) — catches a
    * document INCLUDED in a larger one (quoted articles, boilerplate
    * wraps), which Jaccard under-scores because the union is dominated
    * by the larger doc. Same inverted index, same df guards.
    */
  def ngramContainmentPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
      maxDf: Long = defaultMaxDf): DataFrame =
    ngramInterCounts(docs, n, maxDf)
      .withColumn("containment", round(
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")), 5))
      .filter(col("containment") >= tau)
      .select("id_a", "id_b", "containment")

  // ---------- MinHash + LSH ----------

  // All signature hashing goes through graft.ops.Portable (31-bit
  // universal family, SQL-expressible) so the DuckDB oracle re-derives
  // the exact same signatures and band buckets — the candidate sets,
  // not just the verified pairs, are hash-exact cross-engine.

  /** Distinct word n-gram shingles — executor-side twin of
    * [[shingles]] (same `\s+` tokenization).
    */
  def shingleSet(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Array.empty
    else {
      val set = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= toks.length) { set += toks.slice(i, i + n).mkString(" "); i += 1 }
      set.toArray
    }
  }

  /** MinHash signature of a shingle set: numHashes universal-family
    * rehashes h_j(s) = (a_j·polyhash31(s) + b_j) mod (2^31-1), min over
    * the set. 31-bit arithmetic so the SQL oracle computes the same
    * values (Portable scaladoc).
    */
  def minhashSig(sh: Array[String], as: Array[Long], bs: Array[Long]): Array[Long] = {
    val sig = Array.fill(as.length)(Long.MaxValue)
    var k = 0
    while (k < sh.length) {
      val h = Portable.polyhash31(sh(k))
      var j = 0
      while (j < as.length) {
        val v = (as(j) * h + bs(j)) % Portable.P31
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      k += 1
    }
    sig
  }

  /** MinHash/LSH near-dup pairs: band the signature, self-join on
    * (band, bucket), verify candidates with EXACT Jaccard over the
    * shingle sets (LSH only prunes; it never asserts).
    *
    * Signatures are computed in a typed mapPartitions, NOT as
    * higher-order Column functions: Spark evaluates HOF lambdas
    * interpreted (never whole-stage-codegen'd), which measured ~6x
    * slower than tight JVM loops here — same trade the Aho-Corasick
    * mention detector makes (SURVEY.md §2.2 UDF row). The signature
    * frame is persisted: it feeds the band self-join (both sides) and
    * the verify joins — at production scale this is the materialized
    * signature table.
    *
    * numHashes = bands * rowsPerBand. With (16 bands × 4 rows) the
    * collision probability at J=0.8 is ~0.9997, at J=0.2 is ~0.025 —
    * the classic S-curve.
    */
  /** (doc_id, sh, buckets) signature table — shared by the pair
    * operator (which lineage-cuts it) and the bucket-size diagnostic.
    */
  private def minhashSigTable(docs: DataFrame, n: Int, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numHashes = bands * rowsPerBand
    val as = Array.tabulate(numHashes)(Portable.seedA)
    val bs = Array.tabulate(numHashes)(Portable.seedB)
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val set = shingleSet(text, n)
          if (set.isEmpty) None
          else {
            val sig = minhashSig(set, as, bs)
            val buckets = Array.tabulate(bands)(b =>
              Portable.bandBucket(sig, b * rowsPerBand, rowsPerBand))
            Some((id, set, buckets))
          }
        }
      }
      .toDF("doc_id", "sh", "buckets")
  }

  def minhashLshPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = graft.util.Cut.cut(minhashSigTable(docs, n, bands, rowsPerBand))
    val banded = sh.select(col("doc_id"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sets = sh.select(col("doc_id"), col("sh"))
    cand
      .join(sets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 5))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** The MinHash signature table as a MATERIALIZABLE store:
    * (doc_id, sh, buckets) — shingle sets for exact verification,
    * banded bucket ids for blocking. Write it as parquet once and
    * incremental snapshots probe it via [[incrementalMinhashPairs]];
    * at 100 TB this is THE dedup mode that matters — a new crawl
    * snapshot must not re-shingle the whole corpus, only its own
    * documents.
    */
  def minhashStore(docs: DataFrame, n: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    minhashSigTable(docs, n, bands, rowsPerBand)

  /** Incremental MinHash dedup: near-dup pairs of an INCOMING batch
    * against a persisted signature `store` ([[minhashStore]] — read
    * back from parquet in production) plus within the batch itself.
    * Only the incoming documents are shingled/signed; the store is
    * joined as-is. Pairs are (id_new, id_match): id_new from the
    * batch, id_match from the store (any id) or from the batch
    * (id_match < id_new, so each within-batch pair is reported once,
    * owned by the later document). Store and batch doc_ids must be
    * disjoint. Candidates come from the (band, bucket) equi-join —
    * a shuffle keyed exactly like the full self-join's, but with the
    * probe side |batch| instead of |corpus| — and are verified with
    * exact Jaccard over the shingle sets (LSH prunes, never asserts).
    */
  def incrementalMinhashPairs(store: DataFrame, incoming: DataFrame,
      n: Int = 3, tau: Double = 0.5, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val st = graft.util.Cut.cut(store)
    val inc = graft.util.Cut.cut(minhashSigTable(incoming, n, bands, rowsPerBand))
    def banded(sig: DataFrame) = sig.select(col("doc_id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val bs = banded(st)
    val bi = banded(inc)
    val candOld = bi.as("a").join(bs.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_match"))
    val candNew = bi.as("a").join(bi.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("id_new"), col("b.doc_id").as("id_match"))
    val cand = candOld.union(candNew).distinct()
    val sets = st.select("doc_id", "sh").union(inc.select("doc_id", "sh"))
    cand
      .join(sets.withColumnRenamed("doc_id", "id_new").withColumnRenamed("sh", "sh_a"), "id_new")
      .join(sets.withColumnRenamed("doc_id", "id_match").withColumnRenamed("sh", "sh_b"), "id_match")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 5))
      .filter(col("jaccard") >= tau)
      .select("id_new", "id_match", "jaccard")
  }

  // ---------- passage-level exact dedup (CCNet-style) ----------

  /** Fixed-width token passages per document: consecutive
    * non-overlapping `window`-token chunks (last chunk may be shorter,
    * kept when non-empty), fingerprinted with md5 of the
    * space-rejoined chunk. Scan-local typed mapPartitions — one
    * MessageDigest per partition, tight loop, zero shuffle.
    * Returns (doc_id, p_idx, h).
    */
  def passageTable(docs: DataFrame, window: Int = 16): DataFrame = {
    require(window >= 1, s"passage window must be >= 1: $window")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val toks =
            if (t == null) Array.empty[String]
            else t.split("\\s+").filter(_.nonEmpty)
          toks.grouped(window).zipWithIndex.map { case (g, i) =>
            md.reset()
            val d = md.digest(g.mkString(" ").getBytes("UTF-8"))
            (id, i.toLong, d.map("%02x".format(_)).mkString)
          }
        }
      }
      .toDF("doc_id", "p_idx", "h")
  }

  /** Passage-level exact dedup over the corpus (the CCNet move —
    * boilerplate paragraphs repeat VERBATIM across pages far more
    * often than whole documents do): every passage keeps only its
    * FIRST occurrence in the deterministic global order
    * (doc_id, p_idx); later copies are marked drop.
    *
    * Shape at scale: passage extraction is scan-local; the first
    * occurrence per fingerprint is a groupBy(h).min(struct) —
    * map-side partial aggregation absorbs hot boilerplate passages
    * (a passage duplicated 10^9 times combines to one row per map
    * task, never a single giant reduce group). Ownership is then a
    * shuffle join back on h — the skew-safe spelling: AQE splits a
    * hot fingerprint's join partition, which a window over h
    * (one task per fingerprint, funneling the full 10^9 copies)
    * structurally cannot.
    *
    * Returns (doc_id, p_idx, h, keep).
    */
  def passageDedup(docs: DataFrame, window: Int = 16): DataFrame = {
    val p = graft.util.Cut.cut(passageTable(docs, window))
    val first = p.groupBy("h")
      .agg(min(struct(col("doc_id"), col("p_idx"))).as("f"))
    // shuffle_hash, never broadcast: `first` is DISTINCT-PASSAGE-sized
    // (corpus-scale), and compressed shuffle stats can fool AQE into
    // admitting it as a driver HashedRelation (the round-5 df-guard
    // OOM class). Both sides hash-partition on h; AQE skew-join still
    // splits hot boilerplate fingerprints.
    p.join(first.hint("shuffle_hash"), "h")
      .withColumn("keep",
        col("doc_id") === col("f.doc_id") && col("p_idx") === col("f.p_idx"))
      .select("doc_id", "p_idx", "h", "keep")
  }

  // ---------- SimHash ----------

  /** SimHash chunk-hash parameters: 4 independent universal-family
    * members (one per 15-bit chunk), drawn from the portable mixer.
    */
  val simhashA: Array[Long] =
    Array.tabulate(4)(c => 1L + Portable.mix31(1000L + 2L * c) % (Portable.P31 - 1L))
  val simhashB: Array[Long] =
    Array.tabulate(4)(c => Portable.mix31(1001L + 2L * c) % Portable.P31)

  /** 60-bit SimHash (4 chunks × 15 bits): per bit, sum ±1 votes from
    * each distinct token's chunk hash, take the sign (ties → 0). 60
    * bits, not 64, so the assembled signature and every chunk product
    * stay inside non-negative signed-64 / SQL BIGINT range; chunk c's
    * bits come from (a_c·polyhash31(token) + b_c) mod (2^31-1). Plain
    * Scala (see minhashLshPairs for why signature math is not a Column
    * tree). Returns 0 for null/token-free text.
    */
  def simhashOf(text: String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](60)
    val seen = new scala.collection.mutable.HashSet[String]
    for (t <- text.split("\\s+") if t.nonEmpty && seen.add(t)) {
      val h = Portable.polyhash31(t)
      var c = 0
      while (c < 4) {
        val hc = (simhashA(c) * h + simhashB(c)) % Portable.P31
        var j = 0
        while (j < 15) {
          if (((hc >>> j) & 1L) == 1L) votes(c * 15 + j) += 1 else votes(c * 15 + j) -= 1
          j += 1
        }
        c += 1
      }
    }
    var sig = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** SimHash near-dup pairs within Hamming distance maxHamming (≤ 3
    * with 4 chunks, by pigeonhole): block on exact 15-bit chunks, then
    * verify with bit_count(xor). Documents with no tokens are excluded
    * (they carry no content signal; an all-zero signature would pair
    * every empty document with every other).
    */
  /** (doc_id, sig, chunks) signature table — shared by the pair
    * operator (which lineage-cuts it) and the bucket-size diagnostic.
    */
  private def simhashSigTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(it => it.flatMap { case (id, text) =>
        val hasTokens = text != null && text.split("\\s+").exists(_.nonEmpty)
        if (!hasTokens) None
        else {
          val sig = simhashOf(text)
          val chunks = Array.tabulate(4)(c => (sig >>> (15 * c)) & 0x7fffL)
          Some((id, sig, chunks))
        }
      })
      .toDF("doc_id", "sig", "chunks")
  }

  /** `maxBucket` (default unbounded — the exact pigeonhole guarantee)
    * is the web-scale skew guard this round's own 10×-corpus evidence
    * demanded (BENCH.md): shared boilerplate pulls short documents'
    * signatures together, and the hottest chunk bucket then grows with
    * the corpus (measured 222 → 2,182 from 1.5k → 50k docs), putting a
    * quadratic self-join bucket back in the plan. Capping drops chunk
    * keys with more than `maxBucket` members — the SimHash analogue of
    * the n-gram stop-shingle cap. Recall contract under the cap: a
    * true pair survives unless EVERY chunk the two signatures agree on
    * is hot — pigeonhole still gives a ≤ maxHamming pair at least
    * 4 − maxHamming collision chances.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Long = Long.MaxValue): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // cut: sig is consumed by both sides of the chunk self-join
    val sigs = graft.util.Cut.cut(simhashSigTable(docs))
    val chunked0 = sigs.select(col("doc_id"), col("sig"),
      posexplode(col("chunks")).as(Seq("chunk", "key")))
    // same groupBy-count + shuffle_hash spelling as the n-gram df
    // guard (ADVICE round 5, and for the same reason): the window
    // variant funneled a hot chunk key's whole posting through one
    // unsplittable window task; partial aggregation absorbs the hot
    // key map-side, and shuffle_hash pins the join away from the
    // corpus-sized broadcast class the round-4 100× run OOMed on
    val chunked =
      if (maxBucket == Long.MaxValue) chunked0
      else {
        val keep = chunked0.groupBy("chunk", "key")
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= maxBucket)
          .select("chunk", "key")
        chunked0.join(keep.hint("shuffle_hash"), Seq("chunk", "key"))
          .select("doc_id", "sig", "chunk", "key")
      }
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup clustering + canonical election: connected components
    * over the near-dup pair graph (reusing the KG canonicalizer — the
    * same driver-union-find/distributed-loop machinery), keeping the
    * smallest doc_id per cluster. Docs in no pair are their own
    * canonical. Output: (doc_id, canon_id) for every document. Each
    * document's label goes through the components' one canonical
    * rewrite, as stage B's URIs do (`ConnectedComponents.rewrite`, which
    * owns the lookup-or-join decision and its gates).
    */
  def clusterAndElect(docs: DataFrame, pairs: DataFrame): DataFrame =
    clusterAndElect(docs, pairs, ConnectedComponents.localEdgeThreshold,
      ConnectedComponents.defaultBroadcastCanonLimit)

  /** [[clusterAndElect]] with the CC path's edge threshold and the
    * rewrite's entry gate set: `localThreshold = 0` forces the
    * distributed loop.
    */
  private[graft] def clusterAndElect(docs: DataFrame, pairs: DataFrame, localThreshold: Long,
      broadcastCanonLimit: Long): DataFrame = {
    val spark = docs.sparkSession
    // doc_id + 2^63 as 20 zero-padded digits: lexicographic order is
    // numeric order over every long, and no two ids share a label
    val offset = lit(BigDecimal(2).pow(63))
    def label(c: Column) = lpad((c.cast("decimal(20,0)") + offset).cast("string"), 20, "0")
    val edges = pairs.select(label(col("id_a")).as("src"), label(col("id_b")).as("dst"))
    val canonical = ConnectedComponents.rewrite(spark,
      ConnectedComponents.components(spark, edges, 25, localThreshold),
      broadcastCanonLimit, ConnectedComponents.lookupBudget(spark))
    canonical(docs.select(col("doc_id"), label(col("doc_id")).as("label")), "label", None)
      .select(col("doc_id"),
        (col("label").cast("decimal(20,0)") - offset).cast("long").as("canon_id"))
  }

  // ---------- embedding near-dup ----------

  /** Cosine similarity of two float-array columns, accumulated in
    * double, ascending index order — deterministic. Delegates to the
    * native codegen expression: the previous `aggregate(zip_with(...))`
    * formulation evaluated its lambdas INTERPRETED (boxed per element,
    * per scored row); [[graft.functions.CosineSim]] is one primitive
    * loop with the identical addition sequence, so for the supported
    * inputs — equal-length dense ARRAY<FLOAT>, every embedding column
    * in this engine — results are bit-identical and the oracles are
    * untouched. Deliberate contract NARROWING vs the old fold: other
    * numeric array types are now an analysis error (the fold silently
    * cast), and mismatched lengths score the common prefix (the fold
    * produced NULL); both were latent misuse, now surfaced.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** Executor-side cosine — identical accumulation order to [[cosine]]
    * (sequential double folds) so results agree bitwise.
    */
  def cosineOf(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** HALF_UP decimal rounding — matches Spark's `round` expression. */
  def round5(x: Double): Double =
    BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Embedding-cosine near-dup pairs, blocked by a PRE-EXISTING coarse
    * key column (a cluster/category id) so pairing is per-block, not
    * global. Round-6 shape (guide §8 "decide with small rows"): ONE
    * shuffle of the vectors by block key, then a block-local tight
    * loop scores all pairs — the round-5 self-join materialized every
    * candidate pair as a JOIN ROW (two copied vectors per pair) and
    * then deserialized both arrays per pair in the typed scorer,
    * paying quadratic row-construction for what is one primitive loop
    * over vectors deserialized ONCE per block (measured ~2.8x on the
    * blocked query and the dominant share of the recall query's 2.3x,
    * whose denominator is the degenerate single-block all-pairs case).
    * Each block must fit
    * a task — the same bound the blocked join's per-key build side
    * carried; when no bounded block key exists — the 100 TB case —
    * use [[embeddingNearDupPairsLsh]], which computes its own blocks.
    * NULL block keys pair with nothing (the join semantics).
    */
  def embeddingNearDupPairs(emb: DataFrame, tau: Double = 0.95,
      blockCol: String = "label"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val t = tau
    emb.select(col(blockCol).cast("string").as("blk"),
        col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("blk").isNotNull)
      .as[(String, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.toArray.sortBy(_._2)
        val out = Iterator.tabulate(m.length) { i =>
          Iterator.range(i + 1, m.length).flatMap { j =>
            // ascending sort ⇒ only exact id ties need skipping (the
            // join's strict a.id < b.id); round5 only when the raw
            // cosine can still clear tau after HALF_UP 5dp rounding
            if (m(i)._2 == m(j)._2) None
            else {
              val raw = cosineOf(m(i)._3, m(j)._3)
              // margin 1e-5 = 2x the 5dp rounding radius: everything a
              // HALF_UP 5dp round could still lift to tau gets rounded
              if (raw < t - 0.00001) None
              else {
                val sim = round5(raw)
                if (sim >= t) Some((m(i)._2, m(j)._2, sim)) else None
              }
            }
          }
        }
        out.flatten
      }
      .toDF("id_a", "id_b", "sim")
  }

  /** Embedding near-dup pairs with COMPUTED LSH blocking — the
    * self-contained scale path (VERDICT round 1, item 4): each vector
    * lands in `tables` sign-hash buckets (random-hyperplane signatures
    * from the portable plane family, so the SQL oracle reproduces the
    * buckets); vectors sharing any (table, bucket) are candidates,
    * verified by exact cosine ≥ tau. The self-join key is a small
    * integer — shuffle-friendly, AQE-splittable — and the bucket table
    * is narrow (no embedding duplication across tables; vectors are
    * re-joined once for verification).
    */
  /** (vec_id, t, bucket) sign-hash table — shared by the pair operator
    * (which lineage-cuts it) and the bucket-size diagnostic.
    */
  private def embeddingBucketTable(emb: DataFrame, tables: Int, bits: Int,
      dim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planes = Similarity.hyperplanes(tables, bits, dim)
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          (0 until tables).iterator.map(t => (id, t, Similarity.bucketOf(v, planes(t))))
        }
      }
      .toDF("vec_id", "t", "bucket")
  }

  def embeddingNearDupPairsLsh(emb: DataFrame, tau: Double = 0.95,
      tables: Int = 4, bits: Int = 8, dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // cut: both sides of the self-join consume this — without it the
    // tables×bits plane dot products over the corpus run twice (same
    // convention as the minhash/simhash signature tables)
    val buckets = graft.util.Cut.cut(embeddingBucketTable(emb, tables, bits, dim))
    // pin the bucket exchange at the configured shuffle parallelism
    // (same rationale as the n-gram posting list): the bucket table is
    // bytes-tiny but the self-join's output is quadratic per bucket,
    // and AQE's byte-based coalescing would run the whole expansion on
    // 2-3 tasks; the explicit repartition IS the join's exchange.
    val bk = buckets.repartition(
      spark.sessionState.conf.numShufflePartitions, col("t"), col("bucket"))
    val cand = bk.as("a").join(bk.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
    // verify with the codegen'd CosineSim expression (identical
    // accumulation order to cosineOf — the contract [[cosine]]
    // documents): the round-5 typed scorer re-deserialized BOTH
    // 64-float arrays per candidate pair and paid a BigDecimal round
    // per pair; the Column tree reads the joined arrays in place and
    // whole-stage-codegens with the join above it
    cand
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 5).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Benchmark DECONTAMINATION — flag training documents that share
    * any word n-gram with an eval/benchmark set: the test-set-leakage
    * guard every LLM data pipeline runs before training. The benchmark
    * side is small by nature (eval suites are 10³–10⁶ documents), so
    * its distinct shingle HASHES are collected and broadcast as a
    * sorted long array; the corpus streams through ONE narrow
    * mapPartitions membership scan — zero shuffles, scan speed, the
    * same broadcast discipline as the gazetteer trie and the ANN
    * linker. (Contrast the pair-finding dedup ops above: here nothing
    * joins corpus-to-corpus, so no blocking structure is needed at
    * any corpus size.)
    *
    * Matching is on polyhash31(shingle) (portable — the SQL oracle
    * re-derives the same 31-bit hashes). A hash collision can only
    * OVER-flag — conservative in the safe direction for
    * decontamination — and both engines compute the same collisions,
    * so parity holds regardless.
    *
    * @param n shingle length; eval-leakage guards typically run long
    *          shingles (8-13 grams) — the default 3 matches the dedup
    *          family's shingler for oracle reuse
    * @return one row PER corpus doc: (doc_id, n_contaminated = how
    *         many of the doc's distinct shingles hit the benchmark,
    *         contaminated flag). Shingle-less docs flag clean.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nn = n
    val benchHashes: Array[Long] = benchmark.select(col("text")).as[String]
      .mapPartitions(it => it.flatMap(t => shingleSet(t, nn).iterator.map(Portable.polyhash31)))
      .distinct().collect().sorted
    val bc = spark.sparkContext.broadcast(benchHashes)
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val bh = bc.value
        it.map { case (id, t) =>
          val sh = shingleSet(t, nn)
          var hits = 0L
          var i = 0
          while (i < sh.length) {
            if (java.util.Arrays.binarySearch(bh, Portable.polyhash31(sh(i))) >= 0) hits += 1
            i += 1
          }
          (id, hits, hits > 0)
        }
      }
      .toDF("doc_id", "n_contaminated", "contaminated")
  }

  // ---------- scale diagnostics (VERDICT round 3, next #7) ----------
  //
  // The dedup operators' 100 TB story rests on two claims: (1) posting
  // lists / blocking buckets stay small, (2) where the data breaks
  // claim 1 (boilerplate shingles), the df guard caps the damage.
  // These diagnostics make both MEASURABLE — log2-bucketed size
  // histograms of every blocking structure, cheap aggregations over
  // the same tables the operators build (`BenchExtra --dedup-scale`
  // runs them on a 10× corpus; the bound spec pins the cap).

  private def log2Hist(sizes: DataFrame, sizeCol: String, extraKeys: Seq[String] = Nil): DataFrame =
    sizes.groupBy((extraKeys.map(col) :+
        floor(log2(col(sizeCol))).cast("long").as("log2_size")): _*)
      .agg(count(lit(1)).as("n"), max(col(sizeCol)).as("max_size"))
      .orderBy((extraKeys :+ "log2_size").map(col): _*)

  /** Shingle document-frequency histogram of the n-gram inverted
    * index: one row per (stage, ⌊log2 df⌋) with shingle counts and the
    * stage max — `raw` is the unguarded posting list, `kept` is after
    * the df ∈ [2, maxDf] stop-shingle guard. The kept max df IS the
    * largest self-join bucket the pair stage can see: the guard bounds
    * any shingle's candidate contribution to maxDf² pairs.
    */
  def ngramDfHistogram(docs: DataFrame, n: Int = 3,
      maxDf: Long = defaultMaxDf): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val posting = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(it => it.flatMap { case (id, t) =>
        shingleSet(t, n).iterator.map(s => (id, s)) })
      .toDF("doc_id", "shingle")
    val dfs = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    val staged = dfs.withColumn("stage", lit("raw")).unionByName(
      dfs.filter(col("df") >= 2 && col("df") <= maxDf).withColumn("stage", lit("kept")))
    log2Hist(staged, "df", Seq("stage"))
  }

  /** MinHash (band, bucket) blocking-key size histogram — the largest
    * bucket bounds the candidate self-join's worst key.
    */
  def minhashBucketHistogram(docs: DataFrame, n: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val banded = minhashSigTable(docs, n, bands, rowsPerBand)
      .select(col("doc_id"), posexplode(col("buckets")).as(Seq("band", "bucket")))
    log2Hist(banded.groupBy("band", "bucket").agg(count(lit(1)).as("sz")), "sz")
  }

  /** SimHash (chunk, key) blocking-key size histogram. */
  def simhashKeyHistogram(docs: DataFrame): DataFrame = {
    val chunked = simhashSigTable(docs)
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk", "key")))
    log2Hist(chunked.groupBy("chunk", "key").agg(count(lit(1)).as("sz")), "sz")
  }

  /** Embedding sign-hash (table, bucket) blocking-key size histogram —
    * same table builder AND same defaults as
    * [[embeddingNearDupPairsLsh]], so the diagnostic measures exactly
    * the structure the operator runs with unless the caller overrides
    * both identically (code-review round 4: diverging defaults made
    * the default histogram describe a structure the operator never
    * builds).
    */
  def embeddingBucketHistogram(emb: DataFrame, tables: Int = 4, bits: Int = 8,
      dim: Int = 64): DataFrame =
    log2Hist(embeddingBucketTable(emb, tables, bits, dim)
      .groupBy("t", "bucket").agg(count(lit(1)).as("sz")), "sz")
}
