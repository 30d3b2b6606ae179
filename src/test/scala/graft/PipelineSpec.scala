package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.ConnectedComponents
import graft.emit.{Serializer, TripleEmitter}
import graft.fixtures.Fixtures
import graft.run.{Descriptors, Pipeline}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def cfg(outDir: Option[String] = None) = Pipeline.Config(
    descriptorJson = Descriptors.imfJson,
    gazetteer = Fixtures.gazetteer,
    outDir = outDir,
    nBuckets = 8)

  def toSet(df: DataFrame): Set[(String, String, String, String, String, String, String)] =
    df.collect().map { r: Row =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6))
    }.toSet

  /** The result of `f`, with `l` hearing every event `f` posted. */
  def listening[A](l: SparkListener)(f: => A): A = {
    val sc = spark.sparkContext
    Bus.drain(sc)
    sc.addSparkListener(l)
    try { val r = f; Bus.drain(sc); r }
    finally sc.removeSparkListener(l)
  }

  /** The result of `f` and the job tags of every job it started. */
  def jobsOf[A](f: => A): (A, Seq[String]) = {
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val r = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .getOrElse(""))
    })(f)
    (r, tags.asScala.toSeq)
  }

  /** The result of `f` and the shuffle bytes its tasks wrote. */
  def shuffleWrittenBy[A](f: => A): (A, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val r = listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(f)
    (r, bytes.get)
  }

  /** What a sink wrote at `path`: a text directory's lines, sorted
    * (part-file order is not part of a format), or a document's text.
    */
  def written(path: String): Seq[String] =
    if (new java.io.File(path).isDirectory) spark.read.text(path).as[String].collect().toSeq.sorted
    else Seq(Files.readString(java.nio.file.Paths.get(path)))

  type Row7 = (String, String, String, String, String, String, String)

  /** Stage B inputs that a rewrite can get wrong, and the rows it must
    * return: components {a, b, c} -> a, {x, y} -> x, a self-loop z.
    */
  def adversarialStageB(): (DataFrame, DataFrame, Set[Row7]) = {
    val N: String = null
    val triples = Seq[Row7](
      ("u:s1", "p:label", "literal", "u:b", N, "en", "g:g"), // literal == merged URI
      (N, "p:x", "iri", "u:c", N, N, "g:g"),                 // NULL subject
      ("u:y", "p:knows", "iri", "u:b", N, N, "g:g"),         // merged IRI subject and object
      ("u:b", "p:same", "iri", "u:y", N, N, "g:g"),          // these two become
      ("u:c", "p:same", "iri", "u:x", N, N, "g:g"),          // one triple
      ("u:a", "p:self", "iri", "u:a", N, N, "g:g"),          // its own canonical
      ("u:z", "p:loop", "iri", "u:z", N, N, "g:g"),          // self-loop component
      ("u:c", "p:t", "literal", "u:y", "x:string", N, "g:g"),
      ("u:b", "p:k", N, "u:c", N, N, "g:g"))                 // NULL o_kind: object kept
      .toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
    val edges = Seq(("u:b", "u:a"), ("u:c", "u:b"), ("u:y", "u:x"), ("u:z", "u:z"), (N, "u:q"))
      .toDF("src", "dst")
    val want = Set[Row7](
      ("u:s1", "p:label", "literal", "u:b", N, "en", "g:g"),
      (N, "p:x", "iri", "u:a", N, N, "g:g"),
      ("u:x", "p:knows", "iri", "u:a", N, N, "g:g"),
      ("u:a", "p:same", "iri", "u:x", N, N, "g:g"),
      ("u:a", "p:self", "iri", "u:a", N, N, "g:g"),
      ("u:z", "p:loop", "iri", "u:z", N, N, "g:g"),
      ("u:a", "p:t", "literal", "u:y", "x:string", N, "g:g"),
      ("u:a", "p:k", N, "u:c", N, N, "g:g"))
    (triples, edges, want)
  }

  test("stageB: the lookup (below the gate) and the shuffle join (above it) return the same rows") {
    val (triples, edges, want) = adversarialStageB()
    for (limit <- Seq(ConnectedComponents.defaultBroadcastCanonLimit, 0L)) {
      val out = Pipeline.stageB(spark, triples, edges, broadcastCanonLimit = limit)
      assert(out.count() == want.size && toSet(out) == want, s"broadcastCanonLimit = $limit")
    }
  }

  test("stageB distributed CC path: the counted, collected lookup and the join above the gate return the same rows") {
    val (triples, edges, want) = adversarialStageB()
    for (limit <- Seq(ConnectedComponents.defaultBroadcastCanonLimit, 0L)) {
      val cc = ConnectedComponents.components(spark, edges, 25, localThreshold = 0L)
      assert(cc.isRight, "localThreshold = 0 must take the distributed loop")
      val out = Pipeline.canonicalize(spark, triples, cc, limit, ConnectedComponents.lookupBudget(spark))
      assert(out.count() == want.size && toSet(out) == want, s"broadcastCanonLimit = $limit")
      val plan = out.queryExecution.executedPlan.toString
      if (limit > 0) assert(!plan.contains("Join"), s"below the gate the rewrite is the lookup:\n$plan")
      else assert(plan.contains("Join"), s"above the gate the rewrite is a join:\n$plan")
    }
  }

  test("stageB distributed CC path: a map over the byte budget is joined, not broadcast") {
    val (triples, edges, want) = adversarialStageB()
    // its map: b -> a, c -> a, y -> x, 3 entries of 3-character URIs
    assert(ConnectedComponents.lookupBytes(3, 18) == 96 * 3 + 28)
    // the default limit at 45-character URIs is about 1 GB, over the 1g default's quarter
    assert(ConnectedComponents.lookupBytes(ConnectedComponents.defaultBroadcastCanonLimit, 90L * 4000000L) == 960000000L)
    assert(ConnectedComponents.lookupBudget(spark) ==
      spark.sparkContext.getConf.getSizeAsBytes("spark.executor.memory", "1g") / 4)
    for (budget <- Seq(316L, 315L)) {
      val cc = ConnectedComponents.components(spark, edges, 25, localThreshold = 0L)
      val out = Pipeline.canonicalize(spark, triples, cc, ConnectedComponents.defaultBroadcastCanonLimit, budget)
      assert(toSet(out) == want, s"budget = $budget")
      val plan = out.queryExecution.executedPlan.toString
      if (budget == 316L) assert(!plan.contains("Join"), s"within the budget the rewrite is the lookup:\n$plan")
      else assert(plan.contains("Join"), s"over the budget the rewrite is a join:\n$plan")
    }
  }

  test("stageB driver path: one lookup, no join or broadcast exchange; a second action across a GC runs no more jobs") {
    val (triples, edges, want) = adversarialStageB()
    val out = Pipeline.stageB(spark, triples, edges)
    val (first, jobs1) = jobsOf(toSet(out))
    System.gc()
    Thread.sleep(200) // let the ContextCleaner act on whatever the GC released
    // a new plan over the same output, as a writer after a count runs
    val (second, jobs2) = jobsOf(toSet(out.where(lit(true))))
    assert(first == want && second == want)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"), plan)
    assert(!(jobs1 ++ jobs2).exists(_.contains("broadcast exchange")),
      s"an action re-collected the canonical map: ${jobs1 ++ jobs2}")
    assert(jobs1.nonEmpty && jobs2.size <= jobs1.size, s"${jobs1.size} then ${jobs2.size} jobs")
  }

  test("bucket count 0 fails at plan time, naming the bucket count, before any job") {
    val e = intercept[IllegalArgumentException](TripleEmitter.bucketOf(col("url"), 0))
    assert(e.getMessage.contains("bucket count") && e.getMessage.contains("0"), e.getMessage)
    val pages = Fixtures.pages(spark, 8, 2)
    val (thrown, jobs) = jobsOf(scala.util.Try(Pipeline.run(spark, pages, cfg().copy(nBuckets = 0))))
    assert(thrown.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]), thrown)
    assert(jobs.isEmpty, s"${jobs.size} jobs ran before the bucket count was checked")
  }

  test("end-to-end: 64 pages, exact golden set (P=R=1.0, BASELINE.json target)") {
    val pages = Fixtures.pages(spark, 64, 5)
    val got = toSet(Pipeline.run(spark, pages, cfg()))
    val want = TestOracle.expectedAll(64)
    val missing = want -- got
    val spurious = got -- want
    val p = (got.size - spurious.size).toDouble / got.size
    val r = (want.size - missing.size).toDouble / want.size
    assert(missing.isEmpty && spurious.isEmpty,
      s"P=$p R=$r missing=${missing.take(3)} spurious=${spurious.take(3)}")
  }

  test("extraction path: pipeline output identical when text must come from html") {
    val pages = Fixtures.pages(spark, 32, 3)
    val noText = pages.map(p => p.copy(text = null))
    val a = toSet(Pipeline.run(spark, pages, cfg()))
    val b = toSet(Pipeline.run(spark, noText, cfg().copy(trustText = false)))
    assert(a == b)
  }

  test("parallelism invariance: same triple set at 2 and 23 input partitions") {
    val a = toSet(Pipeline.run(spark, Fixtures.pages(spark, 100, 2), cfg()))
    val b = toSet(Pipeline.run(spark, Fixtures.pages(spark, 100, 23), cfg()))
    assert(a == b)
  }

  test("resume-from-checkpoint ≡ single-shot (north rule resumability)") {
    val dir = TestSpark.tempDir("graft-resume")
    val pages = Fixtures.pages(spark, 80, 7)
    val oneShot = toSet(Pipeline.run(spark, pages, cfg()))

    // simulate an interrupted run: only buckets 0..3 got processed
    val half = pages.toDF()
      .filter(pmod(xxhash64(col("url")), lit(8)) < 4).as[graft.model.Page]
    val c = cfg(Some(dir))
    Pipeline.runResumable(spark, half, c)

    // resume with the full input: finished buckets must be skipped,
    // the rest appended, and the final set must equal one-shot
    val resumed = toSet(Pipeline.runResumable(spark, pages, c.copy(runId = "run-1")))
    assert(resumed == oneShot)

    // lineage: every bucket committed exactly once per rule-set
    val lin = spark.read.parquet(s"$dir/lineage")
    val dup = lin.groupBy("bucket", "rule_set_hash").count().filter($"count" > 1).count()
    assert(dup == 0, "bucket re-committed on resume")

    // idempotence: a third run has nothing to do and returns the same set
    val again = toSet(Pipeline.runResumable(spark, pages, c.copy(runId = "run-2")))
    assert(again == oneShot)
  }

  test("mid-write crash: triples landed, lineage not committed -> re-run converges to the identical set") {
    val dir = TestSpark.tempDir("graft-crash")
    val pages = Fixtures.pages(spark, 60, 5)
    val c = cfg(Some(dir))
    val oneShot = toSet(Pipeline.run(spark, pages, c))

    // simulate a run killed BETWEEN the triples append and the lineage
    // commit inside TripleEmitter.writeStage (triples for two buckets
    // on disk; no lineage row). The run appends edges before
    // writeStage, so a real kill here also leaves those buckets' edges;
    // they orphan and re-append like the triples, and CC ignores the
    // duplicates — this spec leaves them out
    val crashed = pages.toDF()
      .filter(pmod(xxhash64(col("url")), lit(8)) < 2).as[graft.model.Page]
    val (triples, _) = Pipeline.stageA(spark, crashed, c)
    triples.write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("bucket").parquet(s"$dir/triples")

    // resume over the FULL input: orphaned buckets are absent from the
    // lineage index, so they re-run and append a SECOND copy; stage B's
    // content dedup collapses the duplicates — convergence, not loss
    val resumed = toSet(Pipeline.runResumable(spark, pages, c.copy(runId = "r1")))
    assert(resumed == oneShot)

    // the orphaned copies really are on disk (the re-append happened)…
    val raw = spark.read.parquet(s"$dir/triples")
    assert(raw.count() > raw.dropDuplicates(
      "s", "p", "o_kind", "o_lex", "o_datatype", "o_lang").count())
    // …and lineage holds exactly one committed row per (bucket, rule-set)
    val lin = spark.read.parquet(s"$dir/lineage")
    assert(lin.groupBy("bucket", "rule_set_hash").count().filter($"count" > 1).count() == 0)

    // a further run sees every bucket committed and changes nothing
    val again = toSet(Pipeline.runResumable(spark, pages, c.copy(runId = "r2")))
    assert(again == oneShot)
  }

  test("edge append fails mid-run: no lineage for its buckets, resume equals one-shot") {
    val dir = TestSpark.tempDir("graft-edgekill")
    val pages = Fixtures.pages(spark, 60, 5)
    val c = cfg(Some(dir))
    val oneShot = toSet(Pipeline.run(spark, pages, c))
    val killed = pages.toDF()
      .filter(TripleEmitter.bucketOf(col("url"), 8) < 2).as[graft.model.Page]
    assert(Pipeline.stageA(spark, killed, c)._2.count() >= 1,
      "the killed buckets must yield same-as edges, or losing them shows nothing")

    // a plain file where edges/ belongs makes the edge append throw,
    // leaving the store as a kill at that append would; lineage must
    // not have committed these buckets by then
    val blocker = java.nio.file.Paths.get(s"$dir/edges")
    Files.writeString(blocker, "")
    intercept[Exception](Pipeline.runResumable(spark, killed, c))
    Files.delete(blocker)

    val resumed = toSet(Pipeline.runResumable(spark, pages, c.copy(runId = "r1")))
    assert(resumed == oneShot)
  }

  test("a page with NULL text yields no mention triples and leaves the rest unchanged, both trustText modes") {
    val pages = Fixtures.pages(spark, 32, 3)
    val u0 = pages.first().url
    val broken = pages.map(p => if (p.url == u0) p.copy(text = null, html = null) else p)
    val want = toSet(Pipeline.run(spark, pages.filter(_.url != u0), cfg()))
    for (trust <- Seq(true, false)) {
      val got = toSet(Pipeline.run(spark, broken, cfg().copy(trustText = trust)))
      assert(!got.exists(_._1 == u0), s"trustText = $trust: the NULL-text page minted triples")
      assert(got == want, s"trustText = $trust")
    }
  }

  test("resumable run over a half-committed store reads each input page once") {
    val dir = TestSpark.tempDir("graft-onepass")
    val pages = Fixtures.pages(spark, 80, 7)
    val c = cfg(Some(dir))
    val oneShot = toSet(Pipeline.run(spark, pages, c))
    Pipeline.runResumable(spark,
      pages.toDF().filter(TripleEmitter.bucketOf(col("url"), 8) < 4).as[graft.model.Page], c)
    val reads = spark.sparkContext.longAccumulator("page reads")
    val counted = pages.map { p => reads.add(1); p }
    val (out, m) = Pipeline.runResumableWithMetrics(spark, counted, c.copy(runId = "r1"))
    assert(reads.value == 80L, s"${reads.value} page reads for 80 pages")
    assert(m.buckets_skipped > 0 && m.buckets_done > 0)
    assert(toSet(out) == oneShot)
  }

  test("the store's pages, lineage and triples are read without a job; lineage is written as model.Lineage") {
    val base = TestSpark.tempDir("graft-schemas")
    val pages = Fixtures.pages(spark, 40, 4)
    graft.sources.PageStore.write(pages, s"$base/pages", nBuckets = 8)
    Pipeline.runResumable(spark, graft.sources.PageStore.read(spark, s"$base/pages"),
      cfg(Some(s"$base/out")))
    val (_, jobs) = jobsOf {
      graft.sources.PageStore.read(spark, s"$base/pages")
      TripleEmitter.readLineage(spark, s"$base/out")
      TripleEmitter.readTriples(spark, s"$base/out")
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs before any action")
    def fields(t: org.apache.spark.sql.types.StructType) = t.fields.toSeq.map(f => (f.name, f.dataType))
    assert(fields(spark.read.parquet(s"$base/out/lineage").schema) ==
      fields(org.apache.spark.sql.Encoders.product[graft.model.Lineage].schema))
  }

  test("file: URI store: resumable run equals one-shot, a re-run skips every bucket") {
    val dir = TestSpark.tempDir("graft-uri")
    val pages = Fixtures.pages(spark, 40, 4)
    val c = cfg(Some(s"file:$dir"))
    val (out1, m1) = Pipeline.runResumableWithMetrics(spark, pages, c)
    assert(toSet(out1) == toSet(Pipeline.run(spark, pages, c)))
    val (_, m2) = Pipeline.runResumableWithMetrics(spark, pages, c.copy(runId = "r2"))
    assert(m2.buckets_skipped == m1.buckets_done && m2.buckets_done == 0)
    assert(m1.edges > 0 && m2.edges == m1.edges, "same-as edges read back from the URI store")
  }

  test("resumable run: the sink re-reads the executed stage B (no shuffle written) and writes triples_out lines") {
    val dir = TestSpark.tempDir("graft-executed")
    val pages = Fixtures.pages(spark, 40, 4)
    val c = cfg(Some(dir))
    val (out, m) = Pipeline.runResumableWithMetrics(spark, pages, c)
    val (_, shuffled) = shuffleWrittenBy(Serializer.write(out, s"$dir/nq", "nquads"))
    assert(shuffled == 0L, s"the sink wrote $shuffled shuffle bytes")
    val lines = written(s"$dir/nq")
    assert(lines.size.toLong == m.triples_out)
    Serializer.write(Pipeline.runResumable(spark, pages, c.copy(runId = "r2")), s"$dir/lazy", "nquads")
    assert(lines == written(s"$dir/lazy"))
  }

  test("resumable run: every format writes the same from the executed frame as from the lazy one, lookup and join") {
    val dir = TestSpark.tempDir("graft-formats")
    val pages = Fixtures.pages(spark, 40, 4)
    val c = cfg(Some(dir))
    Pipeline.runResumable(spark, pages, c)
    // every triple again in a second graph: nt drops `g`, so its dedup
    // needs an exchange that the executed frame's partitioning must not skip
    Pipeline.runResumable(spark, pages,
      c.copy(descriptorJson = Descriptors.imfJson.replace(TestOracle.G, TestOracle.G + "2")))
    // uncoalesced, so the executed frame spans several partitions and a
    // wrong partitioning claim would show as duplicate or split output
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try for (limit <- Seq(ConnectedComponents.defaultBroadcastCanonLimit, 0L)) {
      val lc = c.copy(broadcastCanonLimit = limit)
      val (executed, _) = Pipeline.runResumableWithMetrics(spark, pages, lc)
      assert(executed.rdd.getNumPartitions > 1)
      val lazyOut = Pipeline.runResumable(spark, pages, lc)
      for (f <- Serializer.formats.keys.toSeq.sorted) {
        Serializer.write(executed, s"$dir/e-$limit-$f", f)
        Serializer.write(lazyOut, s"$dir/l-$limit-$f", f)
        val (e, l) = (written(s"$dir/e-$limit-$f"), written(s"$dir/l-$limit-$f"))
        if (e != l) fail(s"format $f, broadcastCanonLimit = $limit: ${e.size} lines from " +
          s"the executed frame, ${l.size} from the lazy one, ${e.diff(l).take(2)}")
      }
    } finally spark.conf.unset(coalesce)
  }

  test("M2 metrics: counters persisted, resume reflected in skip counts") {
    val dir = TestSpark.tempDir("graft-metrics")
    val pages = Fixtures.pages(spark, 40, 4)
    val c = cfg(Some(dir))
    val (out1, m1) = Pipeline.runResumableWithMetrics(spark, pages, c)
    assert(m1.buckets_skipped == 0 && m1.buckets_done > 0)
    assert(m1.triples_out == out1.count())
    assert(m1.triples_materialized >= m1.triples_out) // pre-dedup >= post
    val (_, m2) = Pipeline.runResumableWithMetrics(spark, pages, c.copy(runId = "r2"))
    assert(m2.buckets_done == 0 && m2.buckets_skipped == m1.buckets_done)
    assert(m2.triples_out == m1.triples_out)
    assert(spark.read.parquet(s"$dir/metrics").count() == 2)
  }

  test("spark-submit surface: Submit.main runs end-to-end, resubmit resumes and converges") {
    val base = TestSpark.tempDir("graft-submit")
    val pages = Fixtures.pages(spark, 40, 4)
    pages.toDF().write.parquet(s"$base/pages")
    Files.writeString(java.nio.file.Paths.get(s"$base/desc.json"), Descriptors.imfJson)
    Files.writeString(java.nio.file.Paths.get(s"$base/gaz.csv"),
      Fixtures.gazetteer.map { case (s, e) => s"$s,$e" }.mkString("\n"))
    def args(runId: String) = Array(
      "--pages", s"$base/pages", "--out", s"$base/out",
      "--descriptor", s"$base/desc.json", "--gazetteer", s"$base/gaz.csv",
      "--buckets", "8", "--run-id", runId)

    Submit.main(args("r1"))
    val want = TestOracle.expectedAll(40).size
    assert(spark.read.text(s"$base/out/serialized").count() == want,
      "serialized N-Quads must equal the golden triple set size")
    assert(spark.read.parquet(s"$base/out/metrics").count() == 1)

    // resubmit: every bucket already committed — nothing reprocessed,
    // identical output (the spark-submit face of the resume contract)
    Submit.main(args("r2"))
    val m2 = spark.read.parquet(s"$base/out/metrics")
      .orderBy($"wall_ms".desc).filter($"run_id" === "r2").first()
    assert(m2.getAs[Long]("buckets_done") == 0L)
    assert(spark.read.text(s"$base/out/serialized").count() == want)
  }

  test("spark-submit surface: the metrics line is JSON for any run id") {
    val base = TestSpark.tempDir("graft-submit-json")
    Fixtures.pages(spark, 16, 2).toDF().write.parquet(s"$base/pages")
    Files.writeString(java.nio.file.Paths.get(s"$base/desc.json"), Descriptors.imfJson)
    val runId = "r\"1\\x"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) {
      Submit.main(Array("--pages", s"$base/pages", "--out", s"$base/out",
        "--descriptor", s"$base/desc.json", "--buckets", "4", "--run-id", runId))
    }
    val line = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq.last
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("run_id").asText() == runId, line)
    assert(json.get("triples_out").asLong() > 0, line)
  }

  test("spark-submit surface: --descriptor and --gazetteer accept file: URIs (run and --delete)") {
    val base = TestSpark.tempDir("graft-submit-uri")
    Fixtures.pages(spark, 40, 4).toDF().write.parquet(s"$base/pages")
    Files.writeString(java.nio.file.Paths.get(s"$base/desc.json"), Descriptors.imfJson)
    Files.writeString(java.nio.file.Paths.get(s"$base/gaz.csv"),
      Fixtures.gazetteer.map { case (s, e) => s"$s,$e" }.mkString("\r\n"))
    Submit.main(Array(
      "--pages", s"$base/pages", "--out", s"$base/out",
      "--descriptor", s"file:$base/desc.json", "--gazetteer", s"file:$base/gaz.csv",
      "--buckets", "8"))
    // the gazetteer was read: without it no entity is linked and the
    // canonicalized golden set (mentions rewritten to minted URIs) differs
    val got = spark.read.text(s"$base/out/serialized").as[String].collect().toSet
    assert(got.size == TestOracle.expectedAll(40).size)
    assert(got.exists(_.contains("<http://schema.org/mentions> <http://graft.local/imf/country/")))

    Submit.main(Array("--delete", "--out", s"$base/out", "--descriptor", s"file:$base/desc.json"))
    assert(!new java.io.File(s"$base/out/triples").exists())
    assert(!new java.io.File(s"$base/out/lineage").exists())
  }

  test("spark-submit surface: --pack-shards lands the shard store; resubmit is a no-op") {
    val base = TestSpark.tempDir("graft-packcli")
    (0L until 300L).map(i => (i, ("tok " * (1 + (i % 40).toInt)).trim))
      .toDF("doc_id", "text") // no n_tokens column -> Submit derives it
      .write.parquet(s"$base/docs")
    val args = Array("--pack-shards", "--docs", s"$base/docs",
      "--out", s"$base/store", "--budget", "700")
    Submit.main(args)
    val manifest = spark.read.parquet(s"$base/store/manifest")
    val stored = spark.read.parquet(s"$base/store/shards")
    assert(stored.count() == 300L)
    assert(manifest.agg(sum($"n_docs")).first().getLong(0) == 300L)
    // token bookkeeping equals the derived counts
    val totalToks = (0L until 300L).map(i => 1 + (i % 40)).sum
    assert(manifest.agg(sum($"n_tokens")).first().getLong(0) == totalToks)
    // resubmit: committed manifest -> no rewrite (sentinel survives)
    val sentinel = java.nio.file.Paths.get(s"$base/store/shards/.graft-sentinel")
    Files.writeString(sentinel, "untouched")
    Submit.main(args)
    assert(Files.exists(sentinel))
  }

  test("gazetteer-less resumable run: empty edge store reads back (schema inference regression)") {
    val dir = TestSpark.tempDir("graft-noedges")
    val c = cfg(Some(dir)).copy(gazetteer = Nil)
    val pages = Fixtures.pages(spark, 20, 2)
    // first run writes an edge-FREE edges/ dir (just _SUCCESS); both the
    // run and the resume must read it with the explicit schema instead
    // of crashing on parquet schema inference
    val n1 = Pipeline.runResumable(spark, pages, c).count()
    val n2 = Pipeline.runResumable(spark, pages, c.copy(runId = "r2")).count()
    assert(n1 > 0 && n1 == n2)
  }

  test("M3 lifecycle delete: removes the owned store, refuses foreign hashes, idempotent") {
    val base = TestSpark.tempDir("graft-delete")
    val pages = Fixtures.pages(spark, 30, 3)
    val c = cfg(Some(s"$base/out"))
    Pipeline.runResumable(spark, pages, c).count()
    val hash = graft.spec.TableSpec.ruleSetHash(c.descriptorJson)
    assert(new java.io.File(s"$base/out/triples").exists())

    // wrong hash: refused — triple rows aren't hash-tagged, so a mixed
    // store can't be partially deleted
    intercept[IllegalArgumentException] {
      Pipeline.delete(spark, s"$base/out", "deadbeefdeadbeef")
    }
    assert(new java.io.File(s"$base/out/triples").exists(), "refusal must not delete")

    // owned hash: store removed, lineage rows counted
    val removed = Pipeline.delete(spark, s"$base/out", hash)
    assert(removed > 0)
    assert(!new java.io.File(s"$base/out/triples").exists())
    assert(!new java.io.File(s"$base/out/lineage").exists())

    // idempotent: second delete is a 0-row no-op, not an error
    assert(Pipeline.delete(spark, s"$base/out", hash) == 0L)

    // force overrides mixed/foreign ownership
    Pipeline.runResumable(spark, pages, c.copy(runId = "r2")).count()
    assert(Pipeline.delete(spark, s"$base/out", "deadbeefdeadbeef", force = true) >= 0L)
    assert(!new java.io.File(s"$base/out/triples").exists())

    // a fresh run after delete rebuilds from scratch (full lifecycle)
    val (_, m) = Pipeline.runResumableWithMetrics(spark, pages, c.copy(runId = "r3"))
    assert(m.buckets_skipped == 0 && m.buckets_done > 0)

    // data WITHOUT a lineage table (mid-write crash leftovers, or a
    // mistyped --out): ownership unverifiable -> refuse without force
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$base/out/lineage"))
    assert(new java.io.File(s"$base/out/triples").exists())
    intercept[IllegalArgumentException] {
      Pipeline.delete(spark, s"$base/out", hash)
    }
    assert(new java.io.File(s"$base/out/triples").exists(), "refusal must not delete")
    assert(Pipeline.delete(spark, s"$base/out", hash, force = true) == 0L)
    assert(!new java.io.File(s"$base/out/triples").exists())
  }

  test("dedup: duplicating the input does not duplicate triples") {
    val pages = Fixtures.pages(spark, 20, 3)
    val doubled = pages.union(pages)
    val a = toSet(Pipeline.run(spark, pages, cfg()))
    val b = toSet(Pipeline.run(spark, doubled, cfg()))
    assert(a == b)
  }
}
