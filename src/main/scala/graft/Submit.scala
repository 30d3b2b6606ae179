package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{SparkSession, functions => F}

import graft.emit.TripleEmitter.readString
import graft.model.Page
import graft.run.Pipeline

/** `spark-submit` entry point — the north rule's deployment surface
  * ("run via spark-submit on a multi-executor cluster"): the batch
  * CLI equivalent of the reference's `/build_convert` service call.
  *
  * {{{
  * spark-submit --class graft.Submit cattlespark_2.13-0.1.0.jar \
  *   --pages    <parquet dir of (url, warc_ts, html, text, lang)> \
  *   --out      <output dir or URI: triples/ edges/ lineage/ metrics/ serialized> \
  *   --descriptor <CSVW-style JSON mapping file> \
  *   [--gazetteer <file of "surface,entity_id" lines>] \
  *   [--buckets 256] [--run-id run-0] [--anchor-field country] \
  *   [--link-threshold 0.9] [--format nquads] [--gzip] \
  *   [--trust-text true]        # false: text from html where text is NULL
  *   [--checkpoint-dir <dir>]   # enables RELIABLE lineage cuts
  *
  * # lifecycle delete (M3): remove the store this descriptor built
  * spark-submit --class graft.Submit cattlespark_2.13-0.1.0.jar \
  *   --delete --out <dir> --descriptor <json> [--force]
  *
  * # training-data shard store: pack documents by token budget and
  * # land parquet shards + a per-shard manifest (Shards.packAndWrite —
  * # manifest commits after data; resubmitting a committed store is a
  * # no-op, a crashed one rewrites deterministically)
  * spark-submit --class graft.Submit cattlespark_2.13-0.1.0.jar \
  *   --pack-shards --docs <parquet with (doc_id, text[, n_tokens])> \
  *   --out <dir> [--budget 5000] [--id-col doc_id] [--run-id run-0]
  * }}}
  *
  * Master/executor topology comes from spark-submit itself (the
  * builder sets no master when one is provided); running the SAME jar
  * at N and 4N executors is the scaling protocol BENCH.md measures
  * with local[N]/local[4N] in this sandbox. The run is bucket-level
  * resumable: re-submitting after ANY failure (lineage commits after
  * every data table — TripleEmitter.writeStage scaladoc) converges to
  * the identical triple set. Prints the run metrics as one JSON line.
  */
object Submit {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    val flags = Set("--gzip", "--delete", "--force", "--pack-shards")
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument: $a")
      if (flags(a)) { m += (a.drop(2) -> "true"); i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for $a")
        m += (a.drop(2) -> args(i + 1)); i += 2
      }
    }
    m.toMap
  }

  /** `s` as a JSON string literal (run ids and paths are user text). */
  private def jsonStr(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** Engine + runtime version string (M1 — the reference shells out to
    * `cow_tool --version` and renders it in the UI,
    * /root/reference/src/cattle.py:155-163; never-fails fallback kept).
    */
  def version: String =
    try s"cattlespark 0.1.0 (spark ${org.apache.spark.SPARK_VERSION}, " +
      s"scala ${scala.util.Properties.versionNumberString}, " +
      s"rules ${graft.extract.HtmlText.version})"
    catch { case scala.util.control.NonFatal(_) => "cattlespark ?.??" }

  def main(args: Array[String]): Unit = {
    if (args.contains("--version")) { println(version); return }
    val o = parseArgs(args)
    def req(k: String) = o.getOrElse(k, sys.error(s"--$k is required"))

    // under spark-submit the master is injected; standalone (tests,
    // local runs) falls back to local[*]. Reuse an existing session if
    // the JVM has one (and then DON'T stop it on exit).
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = existing.getOrElse {
      val b = SparkSession.builder().appName("graft-submit")
        // reliable lineage cuts (graft.util.Cut) write checkpoint files;
        // without this the ContextCleaner never deletes them and every
        // cut leaks DFS data for the app's lifetime (ADVICE round 3).
        // Must be set at context creation — the cleaner reads it once.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      (if (sys.props.contains("spark.master")) b else b.master("local[*]")).getOrCreate()
    }
    o.get("checkpoint-dir").foreach(spark.sparkContext.setCheckpointDir)

    val gazetteer: Seq[(String, String)] = o.get("gazetteer") match {
      case Some(f) =>
        readString(spark, f).linesIterator.toSeq
          .map(_.trim).filter(_.nonEmpty)
          .map { line =>
            val i = line.indexOf(',')
            require(i > 0, s"gazetteer line needs 'surface,entity_id': $line")
            (line.substring(0, i), line.substring(i + 1))
          }
      case None => Nil
    }

    // lifecycle delete (M3): --delete --out <dir> --descriptor <json>
    // removes the store the descriptor's rule-set hash owns and exits
    if (o.contains("delete")) {
      val hash = graft.spec.TableSpec.ruleSetHash(readString(spark, req("descriptor")))
      val removed = Pipeline.delete(spark, req("out"), hash,
        force = o.contains("force"))
      println(s"""{"deleted":${jsonStr(req("out"))},"rule_set_hash":${jsonStr(hash)},""" +
        s""""lineage_rows":$removed}""")
      if (existing.isEmpty) spark.stop()
      return
    }

    // shard store: --pack-shards --docs <parquet> --out <dir>
    // (token counts derived from `text` when the input has no
    // n_tokens column — same tokenizer as the harness queries)
    if (o.contains("pack-shards")) {
      val docs0 = spark.read.parquet(req("docs"))
      val docs =
        if (docs0.columns.contains("n_tokens")) docs0
        else docs0.withColumn("n_tokens",
          F.size(graft.ops.TextOps.tokens(F.col("text"))).cast("long"))
      val budget = o.getOrElse("budget", "5000").toLong
      val manifest = graft.ops.Shards.packAndWrite(
        docs, o.getOrElse("id-col", "doc_id"), "n_tokens", budget,
        req("out"), runId = o.getOrElse("run-id", "run-0"))
      val agg = manifest.agg(F.count(F.lit(1)).as("shards"),
        F.sum("n_docs").as("docs"), F.sum("n_tokens").as("tokens")).first()
      println(s"""{"shards":${agg.getLong(0)},"docs":${agg.getLong(1)},""" +
        s""""tokens":${agg.getLong(2)},"budget":$budget,"out":${jsonStr(req("out"))}}""")
      if (existing.isEmpty) spark.stop()
      return
    }

    val cfg = Pipeline.Config(
      descriptorJson = readString(spark, req("descriptor")),
      gazetteer = gazetteer,
      outDir = Some(req("out")),
      nBuckets = o.getOrElse("buckets", "256").toInt,
      runId = o.getOrElse("run-id", "run-0"),
      linkThreshold = o.getOrElse("link-threshold", "0.9").toDouble,
      trustText = o.getOrElse("trust-text", "true").toBoolean,
      anchorField = o.getOrElse("anchor-field", "country"))

    import spark.implicits._
    val pages = spark.read.parquet(req("pages"))
      .select(F.col("url").cast("string"), F.col("warc_ts").cast("timestamp"),
        F.col("html").cast("binary"), F.col("text").cast("string"),
        F.col("lang").cast("string"))
      .as[Page]

    val (triples, metrics) = Pipeline.runResumableWithMetrics(spark, pages, cfg)
    graft.emit.Serializer.write(triples, s"${req("out")}/serialized",
      o.getOrElse("format", "nquads"), gzip = o.contains("gzip"))

    println(
      s"""{"run_id":${jsonStr(metrics.run_id)},"rule_set_hash":${jsonStr(metrics.rule_set_hash)},""" +
      s""""buckets_done":${metrics.buckets_done},"buckets_skipped":${metrics.buckets_skipped},""" +
      s""""triples_materialized":${metrics.triples_materialized},"subjects":${metrics.subjects},""" +
      s""""edges":${metrics.edges},"triples_out":${metrics.triples_out},""" +
      s""""wall_ms":${metrics.wall_ms}}""")

    if (existing.isEmpty) spark.stop()
  }
}
