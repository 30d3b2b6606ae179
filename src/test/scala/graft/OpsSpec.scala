package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** Specs for the training-data operators (dedup family, similarity
  * search, text analysis, multimodal plumbing).
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // ---------- shingling ----------

  test("shingleSet: distinct word n-grams; short text empty") {
    assert(Dedup.shingleSet("a b c d", 3).toSeq == Seq("a b c", "b c d"))
    assert(Dedup.shingleSet("a b", 3).isEmpty)
    assert(Dedup.shingleSet("x y x y x y", 2).toSeq.sorted == Seq("x y", "y x"))
    // Column twin agrees
    val viaCol = docs((1L, "a b c d"))
      .select(Dedup.shingles(col("text"), 3)).as[Seq[String]].head()
    assert(viaCol == Dedup.shingleSet("a b c d", 3).toSeq)
  }

  // ---------- exact + fuzzy dedup ----------

  test("exact dedup keeps min doc_id per identical text") {
    val out = Dedup.exact(docs((3L, "x"), (1L, "x"), (2L, "y")))
      .select("keep_id", "group_size").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L)))
  }

  test("ngram Jaccard finds the planted near-dup pair with the right score") {
    val a = "the quick brown fox jumps over the lazy dog tonight"
    val b = "the quick brown fox jumps over the lazy dog today"
    val c = "completely different words appear in this one text here"
    val out = Dedup.ngramJaccardPairs(docs((1L, a), (2L, b), (3L, c)), n = 3, tau = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1)
    val (ia, ib, j) = out.head
    assert((ia, ib) == (1L, 2L))
    // 10 tokens -> 8 shingles each, 7 shared: J = 7/9
    assert(j == Dedup.round5(7.0 / 9.0))
  }

  test("minhash LSH recovers exactly the same pairs as exact Jaccard here") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = Seq(
      1L -> base,
      2L -> (base + " extra"),                       // near-dup of 1
      3L -> base.split(" ").reverse.mkString(" "),   // same tokens, different shingles
      4L -> "unrelated content entirely different words no overlap at all")
    val exact = Dedup.ngramJaccardPairs(docs(rows: _*), n = 3, tau = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs(rows: _*), n = 3, tau = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)))
    assert(lsh == exact) // J=8/9 collides in some band w.h.p. (16 bands x 4 rows)
  }

  test("simhash: identical texts collide, near-identical are close, sig deterministic") {
    val a = "one two three four five six seven eight nine ten"
    val b = "one two three four five six seven eight nine eleven"
    assert(Dedup.simhashOf(a) == Dedup.simhashOf(a))
    val ham = java.lang.Long.bitCount(Dedup.simhashOf(a) ^ Dedup.simhashOf(b))
    assert(ham < 20, s"near-identical docs should be close, got $ham")
    val pairs = Dedup.simhashPairs(docs((1L, a), (2L, a), (3L, "zzz yyy xxx www vvv")),
      maxHamming = 3).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedup output is invariant under input partitioning") {
    val rows = (0L until 40L).map(i => i -> s"token${i % 7} alpha beta gamma delta tok${i % 3} x y z w")
    def run(parts: Int) = Dedup.minhashLshPairs(
      spark.createDataset(rows).repartition(parts).toDF("doc_id", "text"), tau = 0.2)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(run(1) == run(13))
  }

  // ---------- near-dup clustering ----------

  import graft.canon.ConnectedComponents.{defaultBroadcastCanonLimit, localEdgeThreshold}

  /** (doc_id -> canon_id) of `clusterAndElect`; `localThreshold = 0`
    * forces the distributed CC loop.
    */
  def elect(ids: Seq[Long], pairs: Seq[(Long, Long)], localThreshold: Long = localEdgeThreshold,
      limit: Long = defaultBroadcastCanonLimit) = {
    val out = Dedup.clusterAndElect(ids.toDF("doc_id"), pairs.toDF("id_a", "id_b"),
      localThreshold, limit)
    (out.as[(Long, Long)].collect().toMap, out.queryExecution.executedPlan.toString)
  }

  test("clusterAndElect: ids of 13+ digits, negative ids and the long extremes keep their own clusters and numeric order") {
    val ids = Seq(1L, 100000000000L, 1000000000000L, -5L, -3L, Long.MinValue, Long.MaxValue)
    val pairs = Seq((1L, 1000000000000L), (-5L, -3L), (Long.MinValue, Long.MaxValue))
    val want = Map(1L -> 1L, 100000000000L -> 100000000000L, 1000000000000L -> 1L,
      -5L -> -5L, -3L -> -5L, Long.MinValue -> Long.MinValue, Long.MaxValue -> Long.MinValue)
    assert(Dedup.clusterAndElect(ids.toDF("doc_id"), pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap == want)
    assert(elect(ids, pairs, localThreshold = 0L)._1 == want, "distributed CC path")
  }

  test("clusterAndElect: both CC paths elect the union-find min per cluster; the rewrite is the lookup at the default limit, a join at 0") {
    val chain = Seq((7L, 3L), (3L, 9L), (9L, 100L), (100L, 42L))
    val ring = Seq((205L, 1000L), (1000L, 230L), (230L, 201L), (201L, 205L))
    val hub = Seq(700L, 60L, 800L, 6000L).map(500L -> _)
    val pairs = chain ++ ring ++ hub
    val ids = (pairs.flatMap { case (a, b) => Seq(a, b) } :+ 999L).distinct
    // union-find oracle: min doc_id per component, a doc in no pair maps to itself
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    val want = ids.map(i => i -> find(i)).toMap
    assert(want(42L) == 3L && want(205L) == 201L && want(6000L) == 60L && want(999L) == 999L)
    for (threshold <- Seq(localEdgeThreshold, 0L); limit <- Seq(defaultBroadcastCanonLimit, 0L)) {
      val (got, plan) = elect(ids, pairs, threshold, limit)
      assert(got == want, s"localThreshold = $threshold, limit = $limit")
      if (limit > 0) assert(!plan.contains("Join"), s"below the gate the rewrite is the lookup:\n$plan")
      else assert(plan.contains("Join"), s"above the gate the rewrite is a join:\n$plan")
    }
  }

  // ---------- embeddings ----------

  test("cosineOf: identity, orthogonality, symmetry") {
    val u = Array(1f, 0f, 0f)
    val v = Array(0f, 1f, 0f)
    val w = Array(3f, 4f, 0f)
    assert(Dedup.cosineOf(u, u) == 1.0)
    assert(Dedup.cosineOf(u, v) == 0.0)
    assert(math.abs(Dedup.cosineOf(u, w) - 0.6) < 1e-12)
    // Column twin agrees bitwise (same sequential fold)
    val viaCol = Seq((u.toSeq, w.toSeq)).toDF("a", "b")
      .select(Dedup.cosine(col("a"), col("b"))).as[Double].head()
    assert(viaCol == Dedup.cosineOf(u, w))
  }

  test("embedding near-dup pairs respect the block and threshold") {
    val e = Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(1f, 0.01f)), // same block, sim ~1
      (3L, 1, Seq(1f, 0f)),                          // near-dup of 1 but other block
      (4L, 0, Seq(0f, 1f))                           // same block, orthogonal
    ).toDF("vec_id", "label", "embedding")
    val out = Dedup.embeddingNearDupPairs(e, tau = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    // unit vectors at increasing angles from the query
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val emb = Seq((0L, at(0)), (1L, at(10)), (2L, at(20)), (3L, at(30)), (4L, at(170)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), k = 3)
      .orderBy("rk").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("LSH top-k is a subset of brute force and finds the nearest at these sizes") {
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val emb = (0 until 50).map(i => (i.toLong, at(i * 7.0))).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 2)
    val bf = Similarity.bruteForceTopK(emb, q, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshRows = Similarity.lshTopK(emb, q, 3, tables = 8, bits = 3, dim = 2)
    // sound: every row is an exact brute-force pair with its exact sim
    assertExactSims(lshRows, emb, q, corpusSize = 50)
    val lsh = lshRows.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // every returned neighbor really is a top candidate: recall vs bf
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall $recall too low for 2-D sign LSH with 8 tables")
  }

  /** Every (query_id, neighbor_id, sim) row of an approximate top-k is a
    * pair of the exact brute-force ranking over the whole corpus (k ≥
    * corpus size) with a bit-equal sim: the re-rank scores exactly.
    */
  private def assertExactSims(approx: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame, q: org.apache.spark.sql.DataFrame,
      corpusSize: Int): Unit = {
    val exact = Similarity.bruteForceTopK(emb, q, corpusSize)
      .select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
      .map { case (a, b, sim) => (a, b) -> java.lang.Double.doubleToLongBits(sim) }.toMap
    val rows = approx.select("query_id", "neighbor_id", "sim").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, sim) =>
      assert(exact.get((a, b)).contains(java.lang.Double.doubleToLongBits(sim)),
        s"($a, $b) sim $sim is not the exact cosine ${exact.get((a, b)).map(java.lang.Double.longBitsToDouble)}")
    }
  }

  test("IVF top-k: sound candidates, decent recall, partitioning-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val bf = Similarity.bruteForceTopK(emb, q, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRows = Similarity.ivfTopK(emb, q, 5, nLists = 8, nprobe = 4)
    assertExactSims(ivfRows, emb, q, corpusSize = emb.count().toInt)
    val ivf = ivfRows.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall $recall too low at nprobe=4/8 lists")
    val ivf2 = Similarity.ivfTopK(emb.repartition(13), q, 5, nLists = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf == ivf2, "IVF result changed under repartitioning")
  }

  test("a zero-norm embedding is never ranked or emitted, and no operator throws") {
    import graft.link.Linker
    // id 0 is the zero vector: the lowest id, so it also seeds an IVF list
    val dim = 8
    val rows = (0 until 21).map { i =>
      (i.toLong, if (i == 0) Seq.fill(dim)(0f)
        else Seq.tabulate(dim)(d => math.cos(i * 0.9 + d * (1 + i % 3)).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 4)
    def check(name: String, df: org.apache.spark.sql.DataFrame, ids: Seq[String],
        sim: String): Unit = {
      val out = df.select((ids :+ sim).map(col): _*).collect()
      assert(out.nonEmpty, s"$name emitted nothing")
      out.foreach { r =>
        assert(ids.indices.forall(i => r.getLong(i) != 0L), s"$name emitted the zero vector: $r")
        assert(!r.isNullAt(ids.length) && !r.getDouble(ids.length).isNaN, s"$name: $r")
      }
    }
    val top = Seq("query_id", "neighbor_id")
    check("bruteForceTopK", Similarity.bruteForceTopK(emb, q, k = 25), top, "sim")
    check("lshTopK", Similarity.lshTopK(emb, q, k = 25, tables = 4, bits = 2, dim = dim),
      top, "sim")
    check("ivfTopK", Similarity.ivfTopK(emb, q, k = 25, nLists = 4, nprobe = 4, iters = 1),
      top, "sim")
    val ctxs = emb.select($"vec_id".as("ctx_id"), $"embedding")
    val ents = emb.filter($"vec_id" % 3 === 0).select($"vec_id".as("entity_id"), $"embedding")
    check("annLinkBrute", Linker.annLinkBrute(ctxs, ents, k = 25, dim = dim, minSim = -1.0),
      Seq("ctx_id", "entity_id"), "sim")
    check("annLinkCandidates", Linker.annLinkCandidates(ctxs, ents, k = 25, tables = 4,
      bits = 2, dim = dim, minSim = -1.0), Seq("ctx_id", "entity_id"), "sim")
    val pairs = Seq("id_a", "id_b")
    check("embeddingNearDupPairs", Dedup.embeddingNearDupPairs(
      emb.withColumn("label", lit(0)), tau = -1.0), pairs, "sim")
    check("embeddingNearDupPairsLsh", Dedup.embeddingNearDupPairsLsh(emb, tau = -1.0,
      tables = 4, bits = 2, dim = dim), pairs, "sim")
  }

  test("Collect.bounded: cap rows come back, cap + 1 rows throw naming caller and cap") {
    import graft.util.Collect
    val five = spark.range(5).toDF()
    assert(Collect.bounded(five, 5, "spec", "none").map(_.getLong(0)).toSeq == (0L until 5L))
    val e = intercept[IllegalArgumentException] {
      Collect.bounded(five, 4, "the spec's caller", "shrink it")
    }
    assert(e.getMessage.contains("the spec's caller") && e.getMessage.contains(" 4 ") &&
      e.getMessage.contains("shrink it"), e.getMessage)
  }

  // ---------- text analysis ----------

  test("token stats + quality keep logic") {
    val good = "the quick brown fox jumps over a lazy dog near the river bank today"
    val short = "the a"
    val noStop = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val out = TextOps.qualityScore(docs((1L, good), (2L, short), (3L, noStop)))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && !out(2L) && !out(3L))
    val stats = TextOps.tokenStats(docs((1L, "aa bb-cc aa")))
      .as[(Long, Long, Long, Long, Long, Long)].head()
    // chars, ws-tokens, distinct(aa,bb-cc), bpe(aa/ bb/-/cc/ aa), alpha
    assert(stats == ((1L, 11L, 3L, 2L, 5L, 8L)))
  }

  test("langId votes stopword markers, ties break by priority, und on zero") {
    val rows = docs(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist nicht hier"),
      (3L, "le chat et la maison est une belle"),
      (4L, "xyzzy plugh"),
      (5L, "中文文本"))
    val out = TextOps.langId(rows).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und", 5L -> "zh"))
  }

  test("fingerprint is case/punct/whitespace-insensitive; rollingHash deterministic and bounded") {
    val fps = docs((1L, "Hello, World!"), (2L, "hello world"), (3L, "different"))
      .select(TextOps.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
    val rh = docs((1L, "a b c"), (2L, "a b c"), (3L, "c b a"))
      .select(TextOps.rollingHash(col("text"))).as[Long].collect()
    assert(rh(0) == rh(1) && rh(0) != rh(2))
    assert(rh.forall(h => h >= 0 && h < 2147483647L))
    // the Column fold and the typed production loop are the same hash
    val samples = Seq("a b c", "c b a", "the quick brown fox", "", "  ", "one")
    val viaCol = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
      .select(TextOps.rollingHash(col("text"))).as[Long].collect().toSeq
    assert(viaCol == samples.map(TextOps.rollingHashOf),
      "Column twin must equal the executor-side rolling hash")
  }

  test("null/empty text tolerance across ops (real corpora have holes)") {
    val dirty = Seq((1L, "the quick brown fox the end"), (2L, null: String), (3L, ""))
      .toDF("doc_id", "text")
    assert(Dedup.shingleSet(null, 3).isEmpty)
    assert(Dedup.simhashOf(null) == 0L)
    assert(Dedup.minhashLshPairs(dirty, tau = 0.1).collect() != null)
    assert(Dedup.ngramJaccardPairs(dirty, tau = 0.1).collect() != null)
    assert(Dedup.simhashPairs(dirty).count() >= 0)
    assert(TextOps.tokenStats(dirty).count() == 3)
    assert(TextOps.qualityScore(dirty).filter(col("keep")).count() == 0) // all fail gates
    assert(TextOps.langId(dirty).count() == 3)
  }

  // ---------- multimodal ----------

  test("JPEG parser recovers SOF dimensions from real marker bytes") {
    val b = Multimodal.synthJpeg(640, 480, 5)
    assert(b(0) == 0xff.toByte && b(1) == 0xd8.toByte && b.last == 0xd9.toByte)
    assert(Multimodal.parseJpeg(b).contains((640L, 480L, 3L)))
    // truncated / corrupted payloads fail soft, never throw
    assert(Multimodal.parseJpeg(b.take(6)).isEmpty)
    assert(Multimodal.parseJpeg(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("WAV parser recovers fmt/data fields from real chunk bytes") {
    val b = Multimodal.synthWav(channels = 2, rate = 16000, frames = 25)
    assert(b.length == 44 + 25 * 2 * 2)
    assert(Multimodal.parseWav(b).contains((2L, 16000L, 25L)))
    assert(Multimodal.parseWav(b.take(20)).isEmpty)
  }

  test("multimodal decode: real containers parse, junk yields ok=false rows") {
    val media = Seq(
      (0L, Multimodal.syntheticMedia(0L)),
      (7L, Multimodal.syntheticMedia(7L)),
      (9L, "not a container".getBytes),
      (10L, null: Array[Byte]))
      .toDF("doc_id", "media")
    val out = Multimodal.decodeMeta(spark, media).collect().map(m => m.doc_id -> m).toMap
    assert(out(0L).kind == "jpeg" && out(0L).ok &&
      out(0L).width.contains(16L) && out(0L).height.contains(16L) &&
      out(0L).channels.contains(3L))
    assert(out(7L).kind == "wav" && out(7L).ok &&
      out(7L).channels.contains(1L + (7L / 2) % 2) &&
      out(7L).sample_rate.contains(8000L + (7L % 5) * 4000) &&
      out(7L).n_frames.contains(10L + 7L % 90))
    assert(!out(9L).ok && !out(10L).ok)
  }

  test("JPEG pixel thumbnails: ImageIO round trip within codec tolerance; poison rejected") {
    // encode a smooth gradient (JPEG-friendly: low error) at max
    // quality, decode through the operator, and gate the resampled
    // raster against the PRE-ENCODE raster's exact box means — the
    // honest cover for a codec-defined decode (VERDICT round 4, item 8)
    val w = 64; val h = 48
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val raw = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 255) / (w - 1); val g = (y * 255) / (h - 1); val b = 128
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      val o = (y * w + x) * 3
      raw(o) = r.toByte; raw(o + 1) = g.toByte; raw(o + 2) = b.toByte
    }
    val baos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(1.0f)
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(baos))
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    val jpegBytes = baos.toByteArray

    val media = Seq(
      (0L, jpegBytes),
      (1L, Multimodal.synthPpm(8, 8, 7)),  // not a JPEG -> rejected
      (2L, "junk".getBytes),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "media")
    val out = Multimodal.thumbnailJpegPixels(spark, media, maxSide = 16L)
      .collect().map(t => t.doc_id -> t).toMap
    assert(out(0L).ok && out(0L).width.contains(64L) && out(0L).height.contains(48L) &&
      out(0L).target_w.contains(16L) && out(0L).target_h.contains(12L), out(0L).toString)
    // tolerance gate: the decoded-and-resampled raster sum must sit
    // within a per-pixel codec budget of the exact resample of the
    // pre-encode raster (±4/channel is generous for q=1.0 on a smooth
    // gradient; a shuffled/garbage decode would miss by far more)
    val exact = Multimodal.boxResample(raw, 0, w, h, 16, 12)
    val exactSum = exact.foldLeft(0L)((a, b) => a + (b & 0xff))
    val budget = 16L * 12L * 3L * 4L
    assert(math.abs(out(0L).out_sum.get - exactSum) <= budget,
      s"decoded thumb sum ${out(0L).out_sum.get} vs exact $exactSum (budget $budget)")
    assert(!out(1L).ok && out(1L).kind == "other")
    assert(!out(2L).ok && !out(3L).ok)
  }

  test("thumbnail: fit-box dims, re-encoded container round-trips, poison rejected") {
    // 1200x300 -> long side 1200 scales to 256: (256, 64); small stays
    assert(Multimodal.fitBox(1200, 300, 256) == ((256L, 64L)))
    assert(Multimodal.fitBox(30, 42, 256) == ((30L, 42L)))
    assert(Multimodal.fitBox(300, 1200, 256) == ((64L, 256L)))
    assert(Multimodal.fitBox(10000, 5, 256) == ((256L, 1L))) // min 1px
    val media = Seq(
      (0L, Multimodal.synthJpeg(1200, 300, 9)),
      (1L, Multimodal.syntheticMedia(1L)), // a WAV — must reject
      (2L, "junk".getBytes))
      .toDF("doc_id", "media")
    val out = Multimodal.thumbnail(spark, media).collect().map(t => t.doc_id -> t).toMap
    assert(out(0L).ok && out(0L).target_w.contains(256L) && out(0L).target_h.contains(64L) &&
      out(0L).out_n_bytes.contains(55L))
    assert(!out(1L).ok && out(1L).kind == "other")
    assert(!out(2L).ok)
  }

  test("frame sample: negative PCM samples are sign-extended (real audio)") {
    // silence fixture, then patch the 4 mono frames to [-1, 300, -300, 7]
    val b = Multimodal.synthWav(channels = 1, rate = 8000, frames = 4)
    val dataOff = 44
    def put(frame: Int, v: Short): Unit = {
      b(dataOff + frame * 2) = (v & 0xff).toByte
      b(dataOff + frame * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    put(0, -1); put(1, 300); put(2, -300); put(3, 7)
    val out = Multimodal.frameSample(spark,
        Seq((1L, b)).toDF("doc_id", "media"), every = 1)
      .collect().head
    assert(out.ok && out.sum_sampled.contains(-1L + 300L - 300L + 7L),
      s"expected signed sum 6, got ${out.sum_sampled}")
  }

  test("frame sample: reads back the exact PCM bytes the fixture wrote") {
    val media = Seq(
      (3L, Multimodal.syntheticMedia(3L)), // wav: frames=13, ch=2
      (0L, Multimodal.syntheticMedia(0L))) // jpeg — must reject
      .toDF("doc_id", "media")
    val out = Multimodal.frameSample(spark, media, every = 4).collect()
      .map(f => f.doc_id -> f).toMap
    val frames = 10L + 3L % 90; val ch = 1L + (3L / 2) % 2
    val fs = Iterator.iterate(0L)(_ + 4).takeWhile(_ < frames).toSeq
    val expected = (for { f <- fs; c <- 0L until ch }
      yield Multimodal.pcmSample(3L, f, c)).sum
    assert(out(3L).ok && out(3L).n_frames.contains(frames) &&
      out(3L).n_sampled.contains(fs.size.toLong) &&
      out(3L).sum_sampled.contains(expected))
    assert(!out(0L).ok && out(0L).kind == "other")
  }

  test("containment flags doc-inside-doc inclusion that Jaccard under-scores") {
    val inner = "alpha beta gamma delta epsilon zeta eta theta"
    val outer = s"intro words here $inner plus a very long tail " +
      "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val docsDf = docs((1L, inner), (2L, outer), (3L, "completely unrelated text about nothing common"))
    val cont = Dedup.ngramContainmentPairs(docsDf, n = 3, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every shingle of the inner doc appears in the outer -> containment 1.0
    assert(cont.get((1L, 2L)).contains(1.0))
    // Jaccard on the same pair is diluted by the outer doc's union
    val jac = Dedup.ngramJaccardPairs(docsDf, n = 3, tau = 0.0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) < 0.3)
  }

  // ---------- scale guards ----------

  test("ngram Jaccard maxDf guard drops planted boilerplate shingles") {
    // 12 docs sharing one boilerplate sentence + one genuine near-dup pair
    val boiler = "click here to subscribe to our newsletter now"
    val rows = (1L to 10L).map(i => i -> s"$boiler unique$i filler$i words$i here$i") ++
      Seq(11L -> "the quick brown fox jumps over the lazy dog tonight",
        12L -> "the quick brown fox jumps over the lazy dog today")
    // capped: boilerplate shingles (df=10 > 4) are stop-shingles; only
    // the genuine pair survives because its shingles have df=2
    val capped = Dedup.ngramJaccardPairs(docs(rows: _*), n = 3, tau = 0.3, maxDf = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((11L, 12L)), s"guard should keep only the real pair, got $capped")
    // uncapped: the boilerplate bucket creates O(n²) candidate pairs
    val uncapped = Dedup.ngramJaccardPairs(docs(rows: _*), n = 3, tau = 0.3,
        maxDf = Long.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size > capped.size, "without the cap the boiler bucket explodes")
  }

  test("stratified sampler: content-keyed, partition-invariant, monotone-nested, scan-local") {
    import graft.ops.Sampling
    val rows = (0L until 4000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
    val df = rows.toDF("doc_id", "lang")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").as[Long].collect().toSet

    val s1 = ids(Sampling.sampleStratified(df, "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.2)))
    // partitioning invariance: same member set at any parallelism
    val s2 = ids(Sampling.sampleStratified(df.repartition(17), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.2)))
    assert(s1 == s2)
    // monotone nesting: the 20% sample is a subset of the 50% sample
    val small = ids(Sampling.sample(df, "doc_id", 0.2))
    val big = ids(Sampling.sample(df, "doc_id", 0.5))
    assert(small.subsetOf(big) && small.nonEmpty && big.size > small.size)
    // rate sanity (mix31 is uniform enough at n=4000: ±5 pp)
    assert(math.abs(big.size / 4000.0 - 0.5) < 0.05, s"rate off: ${big.size}")
    // unlisted strata drop by default
    val dropped = Sampling.sampleStratified(df, "doc_id", "lang", Map("en" -> 1.0))
    assert(dropped.select("lang").distinct().as[String].collect().toSeq == Seq("en"))
    // plan: pure filter, no shuffle, no UDF
    val plan = Sampling.sample(df, "doc_id", 0.5).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("BatchEvalPython"),
      s"sampler must stay scan-local:\n$plan")
    // negative ids are totalized via pmod: a 0% sample is truly empty
    // (a signed % would let every negative id pass every threshold)
    val neg = Seq((-7L, "en"), (-1L, "en"), (3L, "en")).toDF("doc_id", "lang")
    assert(Sampling.sample(neg, "doc_id", 0.0).count() == 0)
    assert(Sampling.sample(neg, "doc_id", 1.0).count() == 3)
  }

  test("mix31: Column twin == Scala reference on negative AND positive ids (pmod alignment)") {
    // ADVICE round 4: the three formulations (Scala floorMod, Column
    // pmod, SQL (x%m+m)%m) must agree on ANY 64-bit id — a signed-%
    // first reduction would go negative on negative ids and pass every
    // sampling threshold
    val ids = Seq(Long.MinValue, -2147483649L, -2147483648L, -7L, -1L, 0L, 1L, 42L,
      2147483647L, 2147483648L, Long.MaxValue)
    val got = ids.toDF("id")
      .select($"id", graft.ops.Sampling.mix31Col($"id").as("m"))
      .as[(Long, Long)].collect().toMap
    ids.foreach { id =>
      val want = graft.ops.Portable.mix31(id)
      assert(got(id) == want && want >= 0L && want < graft.ops.Portable.M31,
        s"id=$id col=${got(id)} scala=$want")
    }
  }

  test("range join rejects unbinnable point/bound column types at plan time") {
    import graft.ops.RangeJoin
    val pts = Seq((1L, "a", 1.5)).toDF("k", "sname", "dts")
    val ivs = Seq((1L, 0L, 10L)).toDF("k", "s", "e")
    // string point column → plan-time rejection, not a mid-job ANSI cast
    // error (ADVICE round 4; mirrors AsOf.tsLong)
    val e1 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, ivs, Seq("k"), "sname", "s", "e", binWidth = 10L)
    }
    assert(e1.getMessage.contains("unbinnable"))
    val e2 = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, ivs, Seq("k"), "dts", "s", "e", binWidth = 10L)
    }
    assert(e2.getMessage.contains("unbinnable"))
  }

  test("shard packing: two-phase prefix sum == single-window twin; no single-task window") {
    import graft.ops.Shards
    val rows = (0L until 3000L).map(i => (i, 1L + (i * 7) % 100))
    val df = rows.toDF("doc_id", "n_tokens")
    val got = Shards.packByBudget(df, "doc_id", "n_tokens", budget = 1000L, numParts = 16)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    // twin: the naive global-window cumsum (the single-task plan this
    // operator exists to avoid)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(graft.ops.Sampling.mix31Col($"doc_id"), $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val twin = df.withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", expr("(cum - n_tokens) div 1000").as("shard"))
      .as[(Long, Long)].collect().toMap
    assert(got == twin)
    // partitioning invariance: same shards at a different parallelism
    val got2 = Shards.packByBudget(df.repartition(7), "doc_id", "n_tokens",
      budget = 1000L, numParts = 5).select("doc_id", "shard")
      .as[(Long, Long)].collect().toMap
    assert(got2 == got)
    // start-offset rule ⇒ every shard except the last is within one
    // max-document of the budget: docs are contiguous, so a shard's
    // total is budget ± (maxDocTokens - 1) = 1000 ± 99
    val sizes = Shards.packByBudget(df, "doc_id", "n_tokens", 1000L, numParts = 16)
      .groupBy("shard").agg(sum("n_tokens").as("s"))
      .orderBy("shard").as[(Long, Long)].collect()
    assert(sizes.dropRight(1).forall(s => math.abs(s._2 - 1000L) <= 99L),
      sizes.take(5).mkString(","))
    // plan: the operator's own plan has NO Window node at all
    val plan = Shards.packByBudget(df, "doc_id", "n_tokens", 1000L, numParts = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"two-phase scan must not plan a window:\n$plan")
  }

  test("decontamination: planted benchmark leakage flagged, clean/short docs clean, scan-local") {
    val bench = docs(
      (900L, "the quick brown fox jumps over the lazy dog"),
      (901L, "four score and seven years ago our fathers brought forth"))
    val corpus = docs(
      (1L, "he said the quick brown fox jumps over everything else entirely"), // 3 shared shingles
      (2L, "completely unrelated text about training data pipelines here"),
      (3L, "tiny doc"),       // < n tokens: no shingles -> clean
      (4L, "four score and seven years ago our fathers brought forth a new nation"))
    val out = Dedup.decontaminate(corpus, bench)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1 shares exactly the shingles of "the quick brown fox jumps
    // over": 4 trigrams of the shared 6-token run
    assert(out(1L)._2 && out(1L)._1 == 4L, out(1L).toString)
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    // doc 4 contains the whole benchmark sentence: all 8 of its
    // trigrams hit
    assert(out(4L)._2 && out(4L)._1 == 8L, out(4L).toString)
    // one row per corpus doc, always
    assert(out.size == 4)
    // 100 TB plan: broadcast membership scan — no Exchange anywhere
    val plan = Dedup.decontaminate(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decontamination must be scan-local:\n$plan")
  }

  test("shard store: artifacts + manifest-after-data commit; crash rewrite; committed no-op") {
    import graft.ops.Shards
    import java.nio.file.{Files, Paths}
    val docs = (0L until 400L).map(i => (i, s"text of doc $i", 1L + (i * 13) % 80))
      .toDF("doc_id", "text", "n_tokens")

    // one-shot: manifest == independent aggregation of the pack
    val dir1 = Files.createTempDirectory("graft-shards-1").toString
    val m1 = Shards.packAndWrite(docs, "doc_id", "n_tokens", budget = 600L, dir1)
      .orderBy("shard").collect().map(_.toSeq).toList
    val expected = Shards.packByBudget(docs, "doc_id", "n_tokens", budget = 600L)
      .groupBy("shard").agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("shard").collect().map(_.toSeq).toList
    assert(m1 == expected && m1.nonEmpty)
    // the shard partitions hold every document exactly once, with full rows
    val stored = spark.read.parquet(s"$dir1/shards")
    assert(stored.count() == 400L && stored.select("doc_id").distinct().count() == 400L)
    assert(stored.columns.toSet == Set("doc_id", "text", "n_tokens", "shard"))

    // crash between data write and manifest commit: shard files exist,
    // no manifest -> the next call must REWRITE and then commit,
    // converging to the one-shot manifest (not trust the partial store)
    val dir2 = Files.createTempDirectory("graft-shards-2").toString
    val half = docs.filter($"doc_id" < 200L)
    half.withColumn("shard", lit(0L)).write.partitionBy("shard")
      .parquet(s"$dir2/shards") // partial, even wrongly-packed, data
    assert(!Files.exists(Paths.get(s"$dir2/manifest/_SUCCESS")))
    val m2 = Shards.packAndWrite(docs, "doc_id", "n_tokens", budget = 600L, dir2)
      .orderBy("shard").collect().map(_.toSeq).toList
    assert(m2 == m1, "post-crash rewrite must converge to the one-shot manifest")
    assert(spark.read.parquet(s"$dir2/shards").count() == 400L)

    // committed store: the next call is a RESUME NO-OP — it must not
    // rewrite the shard files (sentinel survives; Overwrite would
    // delete it)
    val sentinel = Paths.get(s"$dir1/shards/.graft-sentinel")
    Files.writeString(sentinel, "untouched")
    val m3 = Shards.packAndWrite(docs, "doc_id", "n_tokens", budget = 600L, dir1)
      .orderBy("shard").collect().map(_.toSeq).toList
    assert(m3 == m1 && Files.exists(sentinel),
      "a committed manifest must skip the data rewrite entirely")
  }

  test("simhash maxBucket cap prunes the hot boilerplate bucket, keeps the cold genuine pair") {
    // two 15-doc groups of IDENTICAL boilerplate (every chunk bucket
    // size 15 — hot) + one genuine identical pair with unrelated
    // content (its 4 chunk buckets have size 2 — untouched by the cap)
    val boiler = (1L to 30L).map(i =>
      i -> s"click here to subscribe to our newsletter today variant${i % 2}")
    val pairText = "quantum flux capacitor aligns the warp manifold precisely"
    val rows = boiler ++ Seq(100L -> pairText, 101L -> pairText)
    val uncapped = Dedup.simhashPairs(docs(rows: _*))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.simhashPairs(docs(rows: _*), maxBucket = 8L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((100L, 101L)) && capped.contains((100L, 101L)),
      s"the cold genuine pair must survive the cap, got $capped")
    assert(capped.size < uncapped.size,
      s"the cap must prune hot-bucket boilerplate pairs (${capped.size} vs ${uncapped.size})")
    assert(capped.subsetOf(uncapped), "capping may only remove pairs, never invent them")
  }

  test("simhash maxBucket at 20k-doc boilerplate scale: pigeonhole histogram bounds the capped work") {
    // the round-4 scale finding, reproduced as a spec: a boilerplate-
    // heavy corpus whose signatures correlate (the shared tail
    // dominates each doc's few unique tokens) drives chunk buckets
    // far past any cap — uncapped pair work there is quadratic in the
    // hot bucket. With the cap, the TOTAL candidate work is bounded by
    // the histogram pigeonhole bound Σ_bins n·C(min(max, cap), 2),
    // computable from the diagnostic alone — no pair materialization.
    val n = 20000
    val boiler = "subscribe to our newsletter for updates today please do it now"
    val rare = "quantum flux capacitor aligns the warp manifold precisely again"
    val rows = (0 until n).map(i => (i.toLong, s"u${i}a u${i}b u${i}c $boiler")) ++
      Seq(900001L -> rare, 900002L -> rare)
    val dset = docs(rows: _*)
    val cap = 64L

    val hist = Dedup.simhashKeyHistogram(dset).collect()
    val hottest = hist.map(_.getLong(2)).max
    assert(hottest > cap,
      s"fixture must create hot buckets for the cap to matter (hottest=$hottest)")

    val capped = Dedup.simhashPairs(dset, maxBucket = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // candidate work bound: every kept bucket has ≤ cap members; per
    // log2 bin, n buckets of size ≤ min(max_size, cap) each contribute
    // ≤ C(size, 2) candidates — the output (a distinct subset of the
    // candidates) must respect the same bound
    val bound = hist.map { r =>
      val m = math.min(r.getLong(2), cap)
      r.getLong(1) * m * (m - 1) / 2
    }.sum
    assert(capped.length <= bound,
      s"capped output ${capped.length} exceeded the pigeonhole bound $bound")
    // the cold genuine pair survives: its chunk buckets hold 2 members
    assert(capped.contains((900001L, 900002L)),
      "the cap must not drop the cold genuine pair")
  }

  test("dedup diagnostics: df guard bounds the largest posting bucket (histogram evidence)") {
    // 40 docs all sharing one boilerplate sentence → its shingles have
    // raw df = 40; with maxDf = 8 the kept index must contain NO
    // bucket above 8 while the raw histogram still shows the 40-bucket
    val boiler = graft.fixtures.Fixtures.dedupBoiler
    val rows = (1L to 40L).map(i => i -> s"u${i}a u${i}b u${i}c u${i}d $boiler") ++
      Seq(41L -> "the quick brown fox jumps tonight", // genuine df=2 shingles so
        42L -> "the quick brown fox jumps today")     // the kept index is non-empty
    val d = docs(rows: _*)
    val hist = Dedup.ngramDfHistogram(d, n = 3, maxDf = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val rawMax = hist.collect { case ("raw", _, _, m) => m }.max
    val keptMax = hist.collect { case ("kept", _, _, m) => m }.max
    assert(rawMax == 40L, s"boilerplate shingles must reach df=40, got $rawMax")
    assert(keptMax <= 8L, s"df guard must bound the largest kept bucket: $keptMax")
    // the kept histogram is the raw one minus the df=1 and df>8 tails
    val rawN = hist.collect { case ("raw", _, n, _) => n }.sum
    val keptN = hist.collect { case ("kept", _, n, _) => n }.sum
    assert(keptN < rawN)
    // blocking-key histograms exist and bound their buckets by |docs|
    val mh = Dedup.minhashBucketHistogram(d).agg(max($"max_size")).collect()(0).getLong(0)
    val sh = Dedup.simhashKeyHistogram(d).agg(max($"max_size")).collect()(0).getLong(0)
    assert(mh >= 1L && mh <= 42L && sh >= 1L && sh <= 42L)
    // embedding sign-hash histogram: bucket sizes bounded by |vectors|
    val emb = (0 until 30).map(i => (i.toLong,
      Array.tabulate(16)(dd => math.cos(i * 0.7 + dd).toFloat).toSeq)).toDF("vec_id", "embedding")
    val eb = Dedup.embeddingBucketHistogram(emb, tables = 4, bits = 3, dim = 16)
      .agg(max($"max_size")).collect()(0).getLong(0)
    assert(eb >= 1L && eb <= 30L)
  }

  test("IVF at nLists=256 on sf0.1: broadcast assignment, no plan blowup") {
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val res = Similarity.ivfTopK(emb, q, 5, nLists = 256, nprobe = 32, iters = 1)
    // round 1 folded centroids into plan literals — at nLists=256 that
    // plan either dies in codegen or takes minutes; the broadcast
    // argmax must stay comfortably interactive AND compact
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.length < 200000, s"plan exploded: ${plan.length} chars")
    val t0 = System.nanoTime()
    val n = res.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n > 0 && secs < 120, s"nLists=256 run took $secs s")
  }

  test("embedding LSH near-dup: self-contained blocks, full recall on planted dups") {
    def at(deg: Double) = Array.tabulate(64)(d =>
      (math.cos(math.toRadians(deg) + d) * (1.0 + d)).toFloat).toSeq
    val rows = (0 until 40).map(i => (i.toLong, at(i * 23.0))) ++
      Seq((100L, at(0.0001)), (101L, at(23.0001))) // planted near-dups of 0 and 1
    val emb = rows.toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, tau = 0.999, tables = 4, bits = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.contains((0L, 100L)) && lsh.contains((1L, 101L)),
      s"planted near-identical pairs must share a sign bucket, got $lsh")
    // soundness: every emitted pair really clears tau (verify step ran)
    val exact = Dedup.embeddingNearDupPairs(
      emb.select($"vec_id", lit(0).as("blk"), $"embedding"), tau = 0.999, blockCol = "blk")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("as-of join: epoch-sliced carry == naive inequality-join oracle; inclusive; null edges") {
    import graft.ops.AsOf
    val left = Seq((Some(1L), Some(10L), 100L), (Some(1L), Some(20L), 101L),
      (Some(1L), Some(35L), 102L),
      (Some(2L), Some(5L), 200L), (Some(2L), Some(50L), 201L), (Some(3L), Some(7L), 300L),
      (Some(1L), None, 103L),       // NULL left ts: matches nothing
      (Some(2L), Some(70L), 202L),  // lands on the NULL-valued right row at ts 60
      (None, Some(40L), 400L))      // NULL left KEY: preserved, matches nothing
      .toDF("k", "ts", "row_id")
    val right = Seq((Some(1L), Some(10L), Some(1000L)), (Some(1L), Some(30L), Some(1030L)),
      (Some(2L), Some(49L), Some(2049L)), (Some(9L), Some(1L), Some(9001L)),
      (Some(1L), None, Some(9999L)),  // NULL right ts: never matches (ADVICE r3)
      (Some(2L), Some(60L), None),    // NULL value IS the match when latest (ADVICE r3)
      (None, Some(1L), Some(7777L)))  // NULL right KEY: never matches (join equality)
      .toDF("k", "ts", "v")
    // exercise BOTH the auto width and a width that forces one row per
    // slice (all carry flows through the cross-slice summary pass)
    for (width <- Seq(0L, 1L, 7L, 1000L)) {
      val got = AsOf.asofJoin(left, right, "k", "ts", "v", epochWidth = width)
        .select($"row_id", $"asof_val").as[(Long, Option[Long])].collect().toMap
      // inclusive at equal ts (row 100), carry across gaps (101), newest
      // wins (102), null before any right row (200, 300), null ts → null
      // (103), null-valued latest right row → null, not the older value (202)
      assert(got == Map(100L -> Some(1000L), 101L -> Some(1000L), 102L -> Some(1030L),
        200L -> None, 201L -> Some(2049L), 300L -> None,
        103L -> None, 202L -> None, 400L -> None), s"width=$width")

      // the naive quadratic formulation is the semantic oracle: join on
      // k with ts_r <= ts_l, keep the max-ts match per left row
      val naive = left.as("l")
        .join(right.as("r"), $"l.k" === $"r.k" && $"r.ts" <= $"l.ts", "left")
        .groupBy($"row_id")
        .agg(max_by($"r.v", $"r.ts").as("asof_val"))
        .as[(Long, Option[Long])].collect().toMap
      assert(got == naive, s"width=$width")
    }

    // plan shape: no row-explosion join — the only join is the equi
    // join on (key, epoch) against the one-row-per-slice summary
    val plan = AsOf.asofJoin(left, right, "k", "ts", "v", epochWidth = 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"as-of must not plan a nested loop:\n$plan")
    assert(plan.contains("__graft_epoch"), plan.take(2000))
  }

  test("as-of join: composite keys == naive oracle on (k1, k2)") {
    import graft.ops.AsOf
    val left = Seq((1L, "x", 10L, 100L), (1L, "y", 10L, 101L), (2L, "x", 30L, 200L),
      (1L, "x", 50L, 102L)).toDF("k1", "k2", "ts", "row_id")
    val right = Seq((1L, "x", 5L, 1005L), (1L, "y", 10L, 2010L), (1L, "x", 40L, 1040L),
      (2L, "z", 1L, 9001L)).toDF("k1", "k2", "ts", "v")
    val got = AsOf.asofJoinMulti(left, right, Seq("k1", "k2"), "ts", "v", epochWidth = 16L)
      .select($"row_id", $"asof_val").as[(Long, Option[Long])].collect().toMap
    val naive = left.as("l")
      .join(right.as("r"),
        $"l.k1" === $"r.k1" && $"l.k2" === $"r.k2" && $"r.ts" <= $"l.ts", "left")
      .groupBy($"row_id").agg(max_by($"r.v", $"r.ts").as("asof_val"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got == naive && got == Map(
      100L -> Some(1005L), 101L -> Some(2010L), 200L -> None, 102L -> Some(1040L)))
  }

  test("as-of join: hot key spreads over (key, epoch) slices — no single-task funnel") {
    import graft.ops.AsOf
    // 1M left rows on ONE key (VERDICT r3 item 2's mega-hot-key shape)
    val n = 1000000L
    val left = spark.range(n).select(lit(1L).as("k"), $"id".as("ts"), $"id".as("row_id"))
    val right = spark.range(0L, n, 100L).select(lit(1L).as("k"), $"id".as("ts"), $"id".as("v"))
    val res = AsOf.asofJoin(left, right, "k", "ts", "v", epochWidth = 1000L)
    // closed form, checked distributively: the most recent right ts at
    // or before ts is ts - ts % 100
    val bad = res.filter($"asof_val" =!= $"row_id" - ($"row_id" % 100L)).count()
    val total = res.count()
    assert(bad == 0 && total == n, s"bad=$bad total=$total")
    // the carry window exchanges on (k, __graft_epoch): the hot key is
    // spread over ~1000 slice partitions — no task receives the whole key
    val phys = res.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(k[^)]*__graft_epoch".r.findFirstIn(phys).isDefined,
      s"expected a (key, epoch) exchange:\n${phys.take(3000)}")
    // …and the summary side scans are COLUMN-PRUNED (VERDICT r4 item 3:
    // no second full-width pass over the union) — the whole plan must
    // hold exactly ONE window over the big union and one over the
    // summary, never a third pass
    assert("(?s)Window".r.findAllIn(phys).size <= 2, s"unexpected extra window:\n${phys.take(3000)}")
  }

  test("range join: bin-bucketed equi join == naive inequality join; no nested-loop plan") {
    import graft.ops.RangeJoin
    val rnd = new scala.util.Random(7)
    val pts = (0 until 300).map(i => (rnd.nextInt(4).toLong, i.toLong, rnd.nextInt(1000).toLong))
      .toDF("k", "pid", "ts")
    val ivs = (0 until 60).map { i =>
      val s = rnd.nextInt(1000).toLong
      (rnd.nextInt(4).toLong, s, s + rnd.nextInt(250).toLong) // lengths 0..249, bins span >2 too
    }.toDF("k", "s", "e").distinct()

    val got = RangeJoin.pointInInterval(pts, ivs, Seq("k"), "ts", "s", "e", binWidth = 100L)
      .select($"pid", $"s", $"e").as[(Long, Long, Long)].collect().toSet
    val naive = pts.as("p").join(ivs.as("i"),
        $"p.k" === $"i.k" && $"p.ts" >= $"i.s" && $"p.ts" <= $"i.e")
      .select($"pid", $"s", $"e").as[(Long, Long, Long)].collect().toSet
    assert(got == naive, s"missing=${(naive -- got).take(3)} spurious=${(got -- naive).take(3)}")
    assert(got.nonEmpty)

    // every true pair matched exactly ONCE (points live in one bin)
    val n = RangeJoin.pointInInterval(pts, ivs, Seq("k"), "ts", "s", "e", binWidth = 100L).count()
    assert(n == naive.size.toLong)

    // the plan is an equi join on (k, bin) — never a nested loop /
    // cartesian, which is what the raw BETWEEN predicate plans
    val plan = RangeJoin.pointInInterval(pts, ivs, Seq("k"), "ts", "s", "e", binWidth = 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must stay an equi join:\n$plan")
  }

  test("cache lifecycle: operator intermediates are reclaimed once results go out of scope") {
    val sc = spark.sparkContext
    def cached() = { System.gc(); Thread.sleep(100); sc.getPersistentRDDs.size }
    var base = cached()
    var tries = 0
    while (cached() < base && tries < 20) { base = cached(); tries += 1 } // settle
    def runOnce(): Unit = {
      val d = docs((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w q r"))
      assert(Dedup.minhashLshPairs(d, tau = 0.1).count() >= 1)
      assert(Dedup.simhashPairs(d).count() >= 1)
      // the cut signature frames become unreachable on return
    }
    runOnce(); runOnce(); runOnce()
    // the ContextCleaner is async: poll until the cache drains back to
    // the baseline — a leak (the old caller-owned persist contract)
    // would plateau above it and fail here
    var now = cached()
    tries = 0
    while (now > base && tries < 50) { Thread.sleep(200); now = cached(); tries += 1 }
    assert(now <= base, s"leaked cached RDDs: $now vs baseline $base")
  }

  test("PPM parser: netpbm whitespace/comments honored, hostile headers rejected") {
    import java.nio.charset.StandardCharsets.US_ASCII
    val ok = Multimodal.parsePpm(Multimodal.synthPpm(5, 3, 7))
    assert(ok.exists(p => p.width == 5 && p.height == 3 && p.maxval == 255))
    // comments + arbitrary whitespace between header tokens are legal
    val commented = "P6 # a comment\n  5\t# another\n 3  \n255\n".getBytes(US_ASCII) ++
      Array.fill[Byte](45)(1)
    assert(Multimodal.parsePpm(commented).exists(p => p.width == 5 && p.height == 3))
    // truncated raster: never report a shape the bytes can't back
    val short = "P6\n5 3\n255\n".getBytes(US_ASCII) ++ Array.fill[Byte](44)(1)
    assert(Multimodal.parsePpm(short).isEmpty)
    // a billion-pixel header must not drive allocation
    val hostile = "P6\n999999999 999999999\n255\n".getBytes(US_ASCII) ++ Array.fill[Byte](9)(1)
    assert(Multimodal.parsePpm(hostile).isEmpty)
    assert(Multimodal.parsePpm("P5\n5 3\n255\n".getBytes(US_ASCII)).isEmpty)
  }

  test("PPM box-filter resample: exact floor-means on a hand-computed raster; poison rejected") {
    // 2x2 -> 1x1: channel c output = floor(mean of the 4 block pixels)
    val px = Array[Byte](
      1, 10, 100, 2, 20, (200 & 0xff).toByte, // row 0: (x=0) (x=1)
      3, 30, (210 & 0xff).toByte, 6, 41, (255 & 0xff).toByte) // row 1
    val media = Seq(
      (1L, Multimodal.encodePpm(2, 2, px)),
      (2L, Multimodal.synthJpeg(16, 16, 0))).toDF("doc_id", "media")
    val out = Multimodal.resamplePpm(spark, media).collect().map(r => r.doc_id -> r).toMap
    val r1 = out(1L)
    // ch0: (1+2+3+6)/4 = 3; ch1: (10+20+30+41)/4 = 25; ch2: (100+200+210+255)/4 = 191
    assert(r1.ok && r1.out_w.contains(1L) && r1.out_h.contains(1L) &&
      r1.out_sum.contains(3L + 25L + 191L), s"got $r1")
    val r2 = out(2L) // JPEG payload is poison for the PPM path
    assert(!r2.ok && r2.kind == "other")
  }

  test("PPM thumbnail: arbitrary-ratio box filter — hand-computed 3→2, identity, poison") {
    // 3x1 -> 2x1 (maxSide 2): blocks tile by floor division —
    // ox=0 covers x∈[0,1), ox=1 covers x∈[1,3) (floor-mean of 2 px)
    val px = Array[Byte](10, 0, 0, 20, 0, 0, 31, 0, 0)
    val media = Seq(
      (1L, Multimodal.encodePpm(3, 1, px)),
      (2L, Multimodal.synthPpm(4, 3, 7)), // already within the box: identity
      (3L, Multimodal.synthWav(1, 8000, 5, 3))).toDF("doc_id", "media")
    val out = Multimodal.thumbnailPpm(spark, media, maxSide = 2L)
      .collect().map(r => r.doc_id -> r).toMap
    val r1 = out(1L)
    // out px: [10] and floor((20+31)/2) = 25 → sum 35
    assert(r1.ok && r1.target_w.contains(2L) && r1.target_h.contains(1L) &&
      r1.out_sum.contains(35L), s"got $r1")
    val r2 = out(3L)
    assert(!r2.ok && r2.kind == "other")
    // identity ratio: output == input raster byte sum
    val in2 = Multimodal.synthPpm(4, 3, 7)
    val info2 = Multimodal.parsePpm(in2).get
    val want = (info2.dataOff until in2.length).map(in2(_) & 0xff).sum.toLong
    val big = Multimodal.thumbnailPpm(spark,
      Seq((9L, in2)).toDF("doc_id", "media"), maxSide = 16L).collect().head
    assert(big.ok && big.target_w.contains(4L) && big.out_sum.contains(want))
  }

  test("JPEG parser skips 0xFF fill bytes between marker segments (legal padding)") {
    val base = Multimodal.synthJpeg(100, 50, 0)
    val idx = base.indices.find(i =>
      base(i) == 0xff.toByte && base(i + 1) == 0xc0.toByte).get
    // two fill bytes before the SOF marker: ... FF FF FF C0 ...
    val padded = base.take(idx) ++ Array(0xff.toByte, 0xff.toByte) ++ base.drop(idx)
    assert(Multimodal.parseJpeg(padded).contains((100L, 50L, 3L)),
      "fill bytes must not misalign the marker walk")
    // trailing fill bytes right before EOI parse cleanly too (no SOF -> None, not crash)
    val junk = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xff.toByte)
    assert(Multimodal.parseJpeg(junk).isEmpty)
  }

  test("frameSample rejects a non-positive stride (would hang an executor)") {
    val media = Seq((1L, Array[Byte]())).toDF("doc_id", "media")
    intercept[IllegalArgumentException] { Multimodal.frameSample(spark, media, every = 0L) }
    intercept[IllegalArgumentException] { Multimodal.frameSample(spark, media, every = -4L) }
  }

  test("doclen quantiles: p50 AND p90 rows both present when a tiny lang collapses the indexes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-quant").toString
    Seq((1L, "xx", "one two"), (2L, "xx", "one two three"), (3L, "yy", "a b c d"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.run.Queries.qDoclenQuantiles(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // xx: cnt=2 -> idx50 = idx90 = 0 (the 2-token doc); yy: single doc
    assert(out == Set(("xx", "p50", 2L), ("xx", "p90", 2L),
      ("yy", "p50", 4L), ("yy", "p90", 4L)))
  }

  // ---------- incremental (snapshot) dedup ----------

  test("incremental minhash == full self-join restricted to batch-touching pairs, re-keyed") {
    // Planted near-dups across the split: store-store (must NOT appear),
    // store-batch, and batch-batch (owned by the later doc_id).
    val base = "the quick brown fox jumps over the lazy dog at dawn today quietly"
    def v(id: Long, tail: String) = (id, s"$base $tail")
    val corpus = docs(
      v(1L, "alpha"), v(2L, "alpha beta"), // store-store near-dup pair
      v(3L, "gamma"), v(10L, "gamma delta"), // store-batch
      v(11L, "epsilon"), v(12L, "epsilon zeta"), // batch-batch
      (4L, "completely unrelated words nothing shared here at all ok"),
      (13L, "another disjoint document with its own private vocabulary"))
    val store = corpus.filter(col("doc_id") < 10L)
    val batch = corpus.filter(col("doc_id") >= 10L)
    val batchIds = Set(10L, 11L, 12L, 13L)
    val inc = Dedup.incrementalMinhashPairs(Dedup.minhashStore(store), batch, tau = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashLshPairs(corpus, tau = 0.2)
      .as[(Long, Long, Double)].collect()
    val expected = full.flatMap { case (a, b, j) =>
      (batchIds(a), batchIds(b)) match {
        case (true, true)  => Some((math.max(a, b), math.min(a, b), j))
        case (true, false) => Some((a, b, j))
        case (false, true) => Some((b, a, j))
        case _             => None
      }
    }.toSet
    assert(inc == expected)
    assert(expected.exists { case (n, m, _) => n == 10L && m == 3L }) // cross split
    assert(expected.exists { case (n, m, _) => n == 12L && m == 11L }) // within batch
    assert(!inc.exists { case (n, m, _) => !batchIds(n) }) // store-store never surfaces
  }

  // ---------- passage-level exact dedup ----------

  test("passageTable: fixed-width chunks, short tail kept, md5 fingerprints, empty/null docs empty") {
    val out = Dedup.passageTable(docs((1L, "a b c d e f g"), (2L, ""), (3L, null)), window = 3)
      .as[(Long, Long, String)].collect().toSet
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out == Set((1L, 0L, h("a b c")), (1L, 1L, h("d e f")), (1L, 2L, h("g"))))
    intercept[IllegalArgumentException] { Dedup.passageTable(docs(), window = 0) }
  }

  test("passageDedup: first global (doc_id, p_idx) occurrence wins, within and across docs") {
    val fixture = docs(
      (1L, "a b c d e f"),          // passages: "a b c", "d e f"
      (2L, "a b c x y z a b c"),    // shares "a b c" (idx 0), repeats it at idx 2
      (3L, "x y z"))                // "x y z" first seen at (2, 1)
    val out = Dedup.passageDedup(fixture, window = 3)
      .select("doc_id", "p_idx", "keep").as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 0L, true), (1L, 1L, true),
      (2L, 0L, false), (2L, 1L, true), (2L, 2L, false),
      (3L, 0L, false)))
    // partition-invariant (content-keyed ownership)
    val out7 = Dedup.passageDedup(fixture.repartition(7), window = 3)
      .select("doc_id", "p_idx", "keep").as[(Long, Long, Boolean)].collect().toSet
    assert(out7 == out)
  }

  test("passageDedup plan: ownership join is shuffle-hash, never a driver broadcast") {
    // the first-occurrence table is distinct-passage-sized (corpus
    // scale); compressed stats must not admit it as a HashedRelation
    val q = Dedup.passageDedup(docs((1L, "a b c d e f"), (2L, "a b c")), window = 3)
    q.collect() // AQE finalizes the plan on execution
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p.take(500))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"), p.take(500))
  }

  // ---------- per-host cap ----------

  test("capPerHost: two-phase prune == independent per-host sort oracle; negative ids; nesting") {
    import graft.ops.{Portable, Sampling}
    val rows = (1L to 60L).map(i => (i, "big.example")) ++
      Seq((200L, "small.example"), (-201L, "small.example"), (202L, "small.example"),
        (-300L, "lone.example"))
    val df = rows.toDF("doc_id", "source").repartition(7)
    val got = Sampling.capPerHost(df, k = 5)
      .as[(Long, String, Long)].collect().toSet
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (host, hs) =>
      hs.map(_._1).sortBy(id => (Portable.mix31(id), id)).take(5)
        .zipWithIndex.map { case (id, i) => (id, host, i + 1L) }
    }.toSet
    assert(got == expected)
    assert(got.count(_._2 == "big.example") == 5)
    assert(got.count(_._2 == "small.example") == 3) // under-full host keeps all
    // larger cap strictly extends each host's prefix (nested selections)
    val ids3 = Sampling.capPerHost(df, k = 3).as[(Long, String, Long)]
      .collect().map(t => (t._1, t._2)).toSet
    val ids5 = got.map(t => (t._1, t._2))
    assert(ids3.subsetOf(ids5) && ids3.size == 3 + 3 + 1)
  }

  // ---------- intra-document repetition ----------

  test("repetitionStatsOf: hand-computed token/2-gram stats and the integer gate") {
    assert(TextOps.repetitionStatsOf("a a a b") == (4L, 2L, 3L, 3L, 2L))
    // gate: dup 2/4 > 0.3 -> drop
    assert(!TextOps.repetitionKeep(4L, 2L, 2L, 3L))
    assert(TextOps.repetitionStatsOf("the cat sat on the mat") == (6L, 1L, 2L, 5L, 1L))
    assert(TextOps.repetitionKeep(6L, 1L, 1L, 5L))
    assert(TextOps.repetitionStatsOf("") == (0L, 0L, 0L, 0L, 0L))
    assert(TextOps.repetitionStatsOf(null) == (0L, 0L, 0L, 0L, 0L))
    assert(!TextOps.repetitionKeep(0L, 0L, 0L, 0L)) // empty docs drop
    // boundary: exactly 30% duplicate mass / exactly 20% top 2-gram pass
    assert(TextOps.repetitionKeep(10L, 3L, 1L, 9L))
    assert(TextOps.repetitionKeep(11L, 0L, 2L, 10L))
    assert(!TextOps.repetitionKeep(11L, 0L, 3L, 10L))
  }

  test("repetitionStats DataFrame path agrees with the per-doc scalar on a mixed fixture") {
    val fixture = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "spam spam spam spam ham"),
      (3L, ""),
      (4L, "buy now buy now buy now buy now limited offer"))
    val got = TextOps.repetitionStats(fixture.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSet
    val expected = fixture.map { case (id, t) =>
      val (n, dup, topT, n2, topG) = TextOps.repetitionStatsOf(t)
      (id, n, dup, topT, n2, topG, TextOps.repetitionKeep(n, dup, topG, n2))
    }.toSet
    assert(got == expected)
    assert(got.collectFirst { case (2L, _, _, _, _, _, k) => k } == Some(false))
    assert(got.collectFirst { case (4L, _, _, _, _, _, k) => k } == Some(false))
    assert(got.collectFirst { case (1L, _, _, _, _, _, k) => k } == Some(true))
  }

  // ---------- PII scrubbing ----------

  test("redactPii: all occurrences replaced, in the documented email->ip->phone order") {
    val out = Seq((1L, "mail a@b.com and c.d@e.org ip 10.0.0.7 tel +1 555-1234 end"))
      .toDF("doc_id", "text")
      .select(TextOps.redactPii(col("text"))).as[String].head()
    assert(out == "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE> end")
    // not an email / ip / phone: survives untouched
    val keep = Seq((1L, "version 1.2 at example.com cost 555-12"))
      .toDF("doc_id", "text")
      .select(TextOps.redactPii(col("text"))).as[String].head()
    assert(keep == "version 1.2 at example.com cost 555-12")
  }

  test("piiStats: counts on raw text, fingerprint/length of the redacted text") {
    val text = "x@y.net then 192.168.0.1 and x@y.net again call +1 555-0000"
    val red = "<EMAIL> then <IP> and <EMAIL> again call <PHONE>"
    val got = TextOps.piiStats(Seq((7L, text)).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String, Long)].head()
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(red.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == ((7L, 2L, 1L, 1L, md, red.length.toLong)))
  }
}
