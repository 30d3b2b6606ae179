package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.emit.{Serializer, TripleEmitter}
import graft.link.Linker
import graft.mentions.MentionDetector
import graft.model.{Mention, Page}
import graft.rules.RuleCompiler
import graft.run.Pipeline
import graft.sources.PageStore
import graft.spec.TableSpec

/** Outcome of one op's oracle check. */
final case class Check(ok: Boolean, triples: Long, writtenBytes: Long, msg: String)

/** Per-span measurements of one traced op, in call order. */
final class Spans(spark: SparkSession, listener: TagListener) {
  val values = mutable.LinkedHashMap.empty[String, Double]

  /** Runs `body` as span `name`: its jobs and tasks are tallied under
    * the span; `rows` counts the forced output after the span closes.
    */
  def apply[T](name: String)(body: => T)(rows: T => Long): T = {
    val sc = spark.sparkContext
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = TagListener.tagged(sc, name)(body)
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    val t = listener.take(sc, name)
    val jobMs = Intervals.covered(t.jobIntervals.toSeq, t0, t1)
    put(s"$name.wall_s", wall)
    put(s"$name.driver_s", math.max(0.0, wall - jobMs / 1e3))
    put(s"$name.exec_cpu_s", t.execCpuNs / 1e9)
    put(s"$name.shuffle_mb", t.shuffleBytes / 1048576.0)
    put(s"$name.spill_mb", t.spillBytes / 1048576.0)
    put(s"$name.task_skew", t.taskSkew)
    put(s"$name.rows_out", rows(out).toDouble)
    out
  }

  def put(k: String, v: Double): Unit = values(k) = v
}

object Spans {
  val names = Seq("sources.read", "extract.text", "rules.map", "mentions.detect",
    "link.edges", "canon.cc", "run.stageB", "run.resume", "emit.dedup",
    "emit.write", "emit.serialize")
  val fields = Seq("wall_s", "driver_s", "exec_cpu_s", "shuffle_mb", "spill_mb",
    "task_skew", "rows_out")
  val extras = Seq("canon.cc.rounds", "canon.cc.collect_rows", "emit.dedup.rows_in",
    "emit.write.files", "emit.write.mb", "emit.serialize.mb",
    "run.resume.buckets_skipped", "run.stageB.self_s", "trace.overhead_s")
  val all: Seq[String] = names.flatMap(n => fields.map(f => s"$n.$f")) ++ extras
}

/** A workload: inputs built by `setup`, one op timed by `run` and
  * checked by `verify` outside the timing, and a traced variant that
  * calls each layer as its own span.
  */
trait Workload {
  /** Untimed ops before measuring: op time falls while the JIT compiles. */
  def warmupOps: Int
  def setup(): Unit
  /** The oracle's digest of a correct op, computed from the generated
    * records once per run, outside the timed set-up.
    */
  def expected: Gen.Digest
  /** Set-up that runs once, after the inputs are built. */
  def setupOnce(): Unit = ()
  /** Untimed per-op preparation. */
  def prepare(op: Int): Unit = ()
  def run(op: Int): AnyRef
  def verify(op: Int, handle: AnyRef): Check
  def traced(op: Int, sp: Spans): Check
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, scale: Double,
      work: File): Workload = name match {
    case "store_resume" => new StoreResume(spark, seed, scale, work)
    case "canon_sameas" => new CanonSameAs(spark, seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Forces every row and column of a quad frame and digests it with the
    * benchmark's own rendering; duplicates are counted, not collapsed.
    */
  def digest(df: DataFrame): Gen.Digest = {
    import df.sparkSession.implicits._
    digestLines(df.select("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
      .as[(String, String, String, String, String, String, String)]
      .map { case (s, p, kind, lex, dt, lang, g) => Gen.line(s, p, kind, lex, dt, lang, g) })
  }

  /** Row count and wrapping sum of line hashes. */
  def digestLines(lines: Dataset[String]): Gen.Digest = {
    import lines.sparkSession.implicits._
    lines.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      it.foreach { l => n += 1; sum += Gen.h64(l) }
      Iterator((n, sum))
    }.collect().foldLeft(Gen.Digest(0, 0)) { case (a, (n, s)) => a + Gen.Digest(n, s) }
  }

  def check(got: Gen.Digest, want: Gen.Digest, written: Long = 0L): Check =
    Check(got == want, got.rows, written,
      if (got == want) "" else s"digest $got, expected $want")

  /** Materializes a frame in executor storage so the next span reads it
    * instead of recomputing its lineage.
    */
  def force(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def dirBytes(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (1L, f.length())
    else f.listFiles().map(dirBytes).foldLeft((0L, 0L)) {
      case ((n, b), (n2, b2)) => (n + n2, b + b2)
    }

  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copy(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def rmrf(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete()
  }
}

/** Stage A of the pipeline called layer by layer, each layer a span:
  * the mapping, mention detection and linking over pages whose text is
  * present.
  */
final class StageASpans(spark: SparkSession, cfg: Pipeline.Config, nBuckets: Int) {
  import spark.implicits._
  private val ts = TableSpec.fromJson(cfg.descriptorJson)
  private def bucket(c: String) = TripleEmitter.bucketOf(col(c), nBuckets)

  /** (triples with bucket, same-as edges with bucket, (url, subj, anchor)) */
  def apply(sp: Spans, pages: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (mapped, subjects) = sp("rules.map") {
      val records = RuleCompiler.extractFields(pages, ts).withColumn("bucket", bucket("url"))
      (Workload.force(RuleCompiler.triples(records, ts, ts.graph, passThrough = Seq("bucket"))),
        Workload.force(records.select(col("url"),
          RuleCompiler.subjectColumn(ts).as("subj"), col(cfg.anchorField).as("anchor"))))
    }(_._1.count())
    val mentions = sp("mentions.detect") {
      Workload.force(MentionDetector.detect(spark, pages.as[Page], cfg.gazetteer).toDF())
    }(_.count())
    val edges = sp("link.edges") {
      Workload.force(Linker.sameAsEdges(spark, mentions.as[Mention], subjects, cfg.linkThreshold)
        .withColumn("bucket", bucket("src")))
    }(_.count())
    val mentionTriples = mentions.select(col("url").as("s"), lit(Pipeline.MENTIONS_P).as("p"),
      lit("iri").as("o_kind"), col("entity_id").as("o_lex"),
      lit(null).cast("string").as("o_datatype"), lit(null).cast("string").as("o_lang"),
      lit(ts.graph).as("g"), bucket("url").as("bucket"))
    (mapped.unionByName(mentionTriples), edges, subjects)
  }
}

/** Canonicalization, rewrite and dedup over a triple table and its
  * same-as edges, each a span; returns the output digest.
  */
object StageBSpans {
  def apply(spark: SparkSession, sp: Spans, triples: DataFrame, edges: DataFrame,
      cfg: Pipeline.Config): Gen.Digest = {
    val e = edges.select("src", "dst")
    sp("canon.cc") {
      val (cc, rounds) = ConnectedComponents.runCounted(spark, e, cfg.maxCcIterations)
      sp.put("canon.cc.rounds", rounds.toDouble)
      Workload.force(ConnectedComponents.canonicalMap(cc))
    }(_.count())
    // the driver union-find path collects the distinct edge set
    sp.put("canon.cc.collect_rows",
      if (sp.values("canon.cc.rounds") == 0.0) e.distinct().count().toDouble else 0.0)
    sp.put("emit.dedup.rows_in", triples.count().toDouble)
    sp("emit.dedup")(Workload.force(TripleEmitter.dedup(triples)))(_.count())
    val d = sp("run.stageB") {
      Workload.digest(Pipeline.stageB(spark, triples, e, cfg.maxCcIterations,
        cfg.broadcastCanonLimit))
    }(_.rows)
    sp.put("run.stageB.self_s", sp.values("run.stageB.wall_s") - sp.values("canon.cc.wall_s"))
    d
  }
}

/** Canonicalization and rewrite (`Pipeline.stageB`) over a materialized
  * triple table and a linker-shaped same-as graph.
  */
final class CanonSameAs(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  val warmupOps = 1
  private val gs = Gen.GraphSpec(seed, (100000 * scale).toLong)
  private val cfg = Pipeline.Config(Gen.descriptor, Nil)
  private var triples: DataFrame = _
  private var edges: DataFrame = _
  lazy val expected: Gen.Digest = Gen.expectedGraph(gs)

  def setup(): Unit = {
    import spark.implicits._
    Seq(triples, edges).filter(_ != null).foreach(_.unpersist(blocking = true))
    val g = gs
    triples = spark.range(0L, gs.subjects, 1L, 8).as[Long].flatMap(Gen.triplesOf(g, _))
      .toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g").cache()
    edges = spark.range(0L, gs.subjects, 1L, 8).as[Long].flatMap(Gen.edgesOf(g, _))
      .toDF("src", "dst").cache()
    triples.count(); edges.count()
  }

  def run(op: Int): AnyRef =
    Workload.digest(Pipeline.stageB(spark, triples, edges, cfg.maxCcIterations))

  def verify(op: Int, h: AnyRef): Check = Workload.check(h.asInstanceOf[Gen.Digest], expected)

  def traced(op: Int, sp: Spans): Check =
    Workload.check(StageBSpans(spark, sp, triples, edges, cfg), expected)
}

/** A parquet page store with html and no text: each op resumes a store
  * whose partial pass committed half the buckets (skipping that half),
  * then serializes the result to N-Quads.
  */
final class StoreResume(spark: SparkSession, seed: Long, scale: Double, work: File)
    extends Workload {
  val warmupOps = 1
  private val nBuckets = 16
  private val ps = Gen.PageSpec(seed, (8000 * scale).toLong)
  private val store = new File(work, "pagestore").getPath
  private val template = new File(work, "committed-half")
  private val outDir = new File(work, "kg")
  private val nqDir = new File(outDir, "serialized/nq").getPath
  private val hash = TableSpec.ruleSetHash(Gen.descriptor)
  private val half = 0 until nBuckets / 2
  lazy val expected: Gen.Digest = Gen.expectedPages(ps)

  private def cfg(dir: File) = Pipeline.Config(Gen.descriptor, Gen.gazetteer(ps),
    outDir = Some(dir.getPath), nBuckets = nBuckets, runId = "bench",
    trustText = false, anchorField = "place")

  def setup(): Unit = {
    import spark.implicits._
    val p = ps
    // few writer tasks: each writes one file per bucket
    PageStore.write(spark.range(0L, ps.pages, 1L, 2).as[Long].map(Gen.htmlPage(p, _)),
      store, nBuckets)
  }

  /** Commits half the buckets with a partial `runResumable` pass into a
    * template store that every op resumes from a fresh copy.
    */
  override def setupOnce(): Unit =
    Pipeline.runResumable(spark, PageStore.readBuckets(spark, store, half), cfg(template))

  /** A fresh copy of the half-committed store. */
  override def prepare(op: Int): Unit = {
    Workload.rmrf(outDir)
    Workload.copy(template, outDir)
  }

  def run(op: Int): AnyRef = {
    val (out, m) = Pipeline.runResumableWithMetrics(spark, PageStore.read(spark, store),
      cfg(outDir))
    Serializer.write(out, nqDir, "nquads")
    m
  }

  /** Reads the N-Quads back, then deletes the op's store. */
  def verify(op: Int, h: AnyRef): Check = {
    val m = h.asInstanceOf[Pipeline.RunMetrics]
    val written = Workload.dirBytes(outDir)._2
    val got = Workload.digestLines(spark.read.textFile(nqDir))
    Workload.rmrf(outDir)
    val c = Workload.check(got, expected, written)
    if (m.buckets_skipped != half.size)
      c.copy(ok = false,
        msg = s"resume skipped ${m.buckets_skipped} buckets, expected ${half.size}")
    else c
  }

  def traced(op: Int, sp: Spans): Check = {
    import spark.implicits._
    Workload.rmrf(outDir)
    val c = cfg(outDir)
    val dir = outDir.getPath
    val pages = sp("sources.read")(Workload.force(PageStore.read(spark, store).toDF()))(_.count())
    val withText = sp("extract.text") {
      Workload.force(Pipeline.ensureText(pages.as[Page], trustText = false))
    }(_.count())
    val (triples, edges, subjects) = new StageASpans(spark, c, nBuckets)(sp, withText)
    sp("emit.write") {
      // the partial pass: what stage A of the pages in half the buckets
      // commits (an edge belongs to the bucket of the page that linked it)
      val inHalf = TripleEmitter.bucketOf(col("url"), nBuckets).isin(half: _*)
      TripleEmitter.writeStage(spark, triples.filter(col("bucket").isin(half: _*)), dir,
        hash, c.runId)
      edges.join(subjects.filter(inHalf).select(col("subj").as("src")), Seq("src"), "left_semi")
        .write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$dir/edges")
    }(_ => spark.read.parquet(s"$dir/triples").count())
    val (files, bytes) = Workload.dirBytes(new File(dir))
    sp.put("emit.write.files", files.toDouble)
    sp.put("emit.write.mb", bytes / 1048576.0)
    val (out, m) = sp("run.resume") {
      Pipeline.runResumableWithMetrics(spark, PageStore.read(spark, store), c)
    }(_._2.triples_out)
    sp.put("run.resume.buckets_skipped", m.buckets_skipped.toDouble)
    val stored = spark.read.parquet(s"$dir/triples").drop("bucket")
    val storedEdges = spark.read.schema("src STRING, dst STRING, bucket INT")
      .parquet(s"$dir/edges")
    val d = StageBSpans(spark, sp, stored, storedEdges, c)
    sp("emit.serialize")(Serializer.write(out, nqDir, "nquads"))(_ => d.rows)
    sp.put("emit.serialize.mb", Workload.dirBytes(new File(nqDir))._2 / 1048576.0)
    val v = verify(op, m)
    if (d != expected) Workload.check(d, expected) else v
  }
}
