package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

import graft.run.Queries

/** Physical-plan regression audit: the properties that make these
  * operators survive a 100 TB scale-up must be visible in the plan —
  * column pruning reaching the parquet scan, predicate pushdown,
  * broadcast joins for dims, whole-stage codegen on the relational
  * core. `.explain("formatted")`-driven, following the task brief:
  * "a scan that reads all columns for a 2-column projection is wrong".
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val d = "/root/testdata/sf0.001"

  def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  def simplePlan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("simple"))

  test("kg_triples: scan pruned to exactly the 3 mapped columns") {
    assert(plan(Queries.kgTriples(spark, d)).contains(
      "ReadSchema: struct<n_nationkey:int,n_name:string,n_regionkey:int>"))
  }

  test("kg_mentions: BINARY-dominant columns never reach the scan") {
    val p = plan(Queries.kgMentions(spark, d))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string"))
    assert(!p.contains("lang"), "mention detection must not read lang")
  }

  /** The ScalaUDFs named `name` in `df`'s executed plan. */
  def udfs(df: DataFrame, name: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    df.queryExecution.executedPlan.flatMap(_.expressions.flatMap(_.collect {
      case u: ScalaUDF if u.udfName.contains(name) => u
    })).size
  }

  test("stage A's page cut: one narrow projection, html unread when text is trusted, text and hits computed once") {
    import graft.run.{Descriptors, Pipeline}
    val dir = TestSpark.tempDir("plan-pagecut") + "/pages"
    graft.sources.PageStore.write(graft.fixtures.Fixtures.pages(spark, 16, 2), dir, nBuckets = 4)
    val pages = graft.sources.PageStore.read(spark, dir)
    val cfg = Pipeline.Config(Descriptors.imfJson, graft.fixtures.Fixtures.gazetteer, nBuckets = 4)
    for (trust <- Seq(true, false)) {
      val cut = Pipeline.pageCut(spark, pages, cfg.copy(trustText = trust))
      val p = plan(cut)
      if (trust) assert(p.contains("ReadSchema: struct<url:string,text:string,lang:string>"), p)
      assert(!p.contains("Exchange"), p)
      assert(udfs(cut, "html_text") == (if (trust) 0 else 1) && udfs(cut, "mention_hits") == 1, p)
    }
  }

  test("mention detection runs the trie once per page (no filters inferred from the explode)") {
    val mentions = graft.mentions.MentionDetector.detect(spark,
      graft.fixtures.Fixtures.pages(spark, 16, 2), graft.fixtures.Fixtures.gazetteer)
    assert(udfs(mentions.toDF(), "mention_hits") == 1, plan(mentions.toDF()))
  }

  test("q_join_agg: tiny dim joins via broadcast, key filter pushed") {
    val p = plan(Queries.qJoinAgg(spark, d))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey)]"))
  }

  test("q_semi_join: selective predicate reaches the parquet scan") {
    val p = plan(Queries.qSemiJoin(spark, d))
    assert(p.contains("GreaterThan(o_totalprice,490000.0)"))
    assert(p.contains("LeftSemi"))
  }

  test("relational core runs inside whole-stage codegen") {
    // AQE's pre-execution plan hides codegen markers; codegen explain
    // mode compiles the stages up front
    def codegen(df: DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(codegen(Queries.q1Agg(spark, d)).contains("WholeStageCodegen"))
    assert(codegen(Queries.qJoinAgg(spark, d)).contains("WholeStageCodegen"))
  }

  test("q5_multi_join: region filter pushed to its scan, dims broadcast, date pushed") {
    val p = plan(Queries.q5MultiJoin(spark, d))
    // the selective dim filter reaches the region parquet scan
    assert(p.contains("EqualTo(r_name,ASIA)"), "region filter must be pushed down")
    // the date range reaches the orders scan (pushed as timestamp bounds)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,") &&
      p.contains("LessThan(o_orderdate,"), "order-date range must be pushed down")
    // both tiny dims broadcast; the fact-fact joins shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "nation and region must both broadcast")
    // pruned fact scan: lineitem reads only join keys + measures
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint," +
      "l_extendedprice:double,l_discount:double>"),
      "lineitem scan must prune to 4 columns")
  }

  test("sim_ann_ivf: plan size is O(1) in nLists (broadcast argmax, no literal centroids)") {
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val p16 = simplePlan(graft.ops.Similarity.ivfTopK(emb, q, 5, nLists = 16, iters = 0))
    val p64 = simplePlan(graft.ops.Similarity.ivfTopK(emb, q, 5, nLists = 64, iters = 0))
    // round 1 inlined one struct(cosine(...)) literal per centroid: plan
    // text grew linearly in nLists and exploded codegen at realistic
    // sizes — now centroids travel via broadcast, plans are same-sized
    assert(math.abs(p16.length - p64.length) < 200,
      s"plan grows with nLists: ${p16.length} vs ${p64.length} chars")
  }

  test("text ops: scan pruned to (doc_id, text)") {
    assert(plan(Queries.textTokens(spark, d)).contains(
      "ReadSchema: struct<doc_id:bigint,text:string>"))
    assert(plan(Queries.dedupExact(spark, d)).contains(
      "ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("kg_link_scores: lang pruned from the scan; mention agg is partial before the shuffle") {
    val p = plan(Queries.kgLinkScores(spark, d))
    // mentions need (doc_id,text); subjects need (doc_id,text) too (w1
    // extraction) — lang must never be read for the scorer
    assert(!p.contains("lang"), "link scoring must not read lang")
    // the per-(url,entity) mention aggregation must map-side combine
    // (algebraic count/min/max) before shuffling — the hot-page guard
    assert(p.contains("HashAggregate") && p.contains("Exchange"))
    assert(p.indexOf("HashAggregate") >= 0 &&
      "HashAggregate".r.findAllIn(p).length >= 2,
      "expected partial + final aggregate pair")
  }

  test("text_vocab_topk: global top-k is TakeOrdered, never a full sort") {
    val p = simplePlan(Queries.textVocabTopk(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k after aggregation must be per-partition heads + driver merge")
    assert(!p.contains("Sort "), "a full sort of the vocabulary is the wrong plan")
  }

  test("stageB canonical rewrite: the lookup is GATED, not unconditional") {
    import spark.implicits._
    val triples = Seq(
      ("u:b", "p:x", "iri", "u:d", null: String, null: String, "g:g"),
      ("u:e", "p:x", "literal", "v", null: String, null: String, "g:g"))
      .toDF("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")
    val edges = Seq(("u:a", "u:b"), ("u:c", "u:d")).toDF("src", "dst")
    // disable size-based broadcasts so no join in the plan can be a
    // broadcast join that Spark chose by itself
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      // gate OFF (cmap rows > limit=0): must plan a SHUFFLE join — an
      // ungated lookup here would force a canonical map of any size
      // into every executor (VERDICT round 2 #1)
      val off = graft.run.Pipeline.stageB(spark, triples, edges,
        broadcastCanonLimit = 0L)
      off.collect()
      val offPlan = off.queryExecution.executedPlan.toString
      assert(!offPlan.contains("BroadcastHashJoin") && !offPlan.contains("BroadcastExchange"),
        s"gated-off rewrite must not force a broadcast:\n$offPlan")
      assert(offPlan.contains("SortMergeJoin") || offPlan.contains("ShuffledHashJoin"),
        s"gated-off rewrite must be a shuffle join:\n$offPlan")
      // gate ON (default limit): the rewrite is the lookup projection,
      // so the plan holds no join at all
      val on = graft.run.Pipeline.stageB(spark, triples, edges)
      on.collect()
      val onPlan = on.queryExecution.executedPlan.toString
      assert(!onPlan.contains("Join") && !onPlan.contains("BroadcastExchange"),
        s"small canonical map should rewrite through the lookup, not a join:\n$onPlan")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("q_quantile_sketch: mergeable sketch aggregates partial-then-final; no per-group sort") {
    val p = simplePlan(Queries.qQuantileSketch(spark, d))
    // percentile_approx is an ObjectHashAggregate — the partial/final
    // pair IS the one-pass mergeable shape that replaces the exact
    // query's per-lang window sort at scale
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final sketch aggregate pair:\n$p")
    assert(!p.contains("Window"), "the sketch path must not sort per group")
  }

  test("mm_resample: pixel work is one narrow stage — no shuffle") {
    val p = simplePlan(Queries.mmResample(spark, d))
    assert(!p.contains("Exchange"),
      s"parse/filter/re-encode must stay scan-local:\n$p")
  }

  test("RangeJoinRewrite: BETWEEN joins rewritten to bin-bucketed equi joins (SparkSessionExtensions rule)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pts = (0 until 200).map(i => (rnd.nextInt(3).toLong, i.toLong, rnd.nextInt(500).toLong))
      .toDF("k", "pid", "ts")
    val ivs = (0 until 40).map { i =>
      val s = rnd.nextInt(500).toLong; (rnd.nextInt(3).toLong, s, s + rnd.nextInt(120).toLong)
    }.toDF("k2", "s", "e").distinct()

    def keyed = pts.join(ivs, $"k" === $"k2" && $"ts" >= $"s" && $"ts" <= $"e")
    def unkeyed = pts.join(ivs, $"ts" >= $"s" && $"ts" <= $"e")

    val saved = spark.experimental.extraOptimizations
    try {
      // counterfactuals first (rule not registered): the un-keyed form
      // is a nested loop; collect both expected row sets
      val expKeyed = keyed.collect().map(_.toSeq).toSet
      val expUnkeyed = unkeyed.collect().map(_.toSeq).toSet
      assert(unkeyed.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))

      spark.experimental.extraOptimizations = saved :+ graft.plans.RangeJoinRewrite
      spark.conf.set(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY, "128")

      // un-keyed: the nested loop becomes an equi join on the bin
      val u = unkeyed
      assert(u.collect().map(_.toSeq).toSet == expUnkeyed)
      val uPlan = u.queryExecution.executedPlan.toString
      assert(!uPlan.contains("BroadcastNestedLoopJoin") && uPlan.contains("__graft"),
        s"rewrite must replace the nested loop:\n$uPlan")

      // keyed: the bin joins the key list (hot-key pruning), rows equal
      val kq = keyed
      assert(kq.collect().map(_.toSeq).toSet == expKeyed)
      assert(kq.queryExecution.executedPlan.toString.contains("__graft"),
        "bin must participate in the keyed join too")

      // conf unset -> rule is a no-op again (opt-in contract)
      spark.conf.unset(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY)
      assert(unkeyed.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    } finally {
      spark.experimental.extraOptimizations = saved
      spark.conf.unset(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY)
    }
  }

  test("RangeJoinRewrite: fires on raw TIMESTAMP columns; reversed bounds guarded (r3 gaps)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hourUs = 3600000000L
    // points every 6 minutes over 10 hours; half-hour intervals each hour
    val pts = spark.range(100).select($"id".as("pid"),
      timestamp_micros($"id" * 360000000L).as("ts"))
    val good = spark.range(12).select(
      timestamp_micros($"id" * hourUs).as("s"),
      timestamp_micros($"id" * hourUs + 1800000000L).as("e"))
    // one REVERSED-bounds row (end < start, span ≈ 2.4e9 bins): without
    // the guard its DESCENDING sequence exceeds the max array length and
    // the rewritten query crashes where the nested loop matched nothing
    // (ADVICE round 3)
    val ivs = good.union(spark.range(1).select(
      timestamp_micros(lit(8500000000000000000L)).as("s"),
      timestamp_micros(lit(0L)).as("e")))

    def q = pts.join(ivs, $"ts" >= $"s" && $"ts" <= $"e")

    val saved = spark.experimental.extraOptimizations
    try {
      // counterfactual: timestamp BETWEEN joins plan a nested loop
      val expected = q.collect().map(_.toSeq).toSet
      assert(q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))

      spark.experimental.extraOptimizations = saved :+ graft.plans.RangeJoinRewrite
      spark.conf.set(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY, hourUs.toString)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("__graft"),
        s"rewrite must fire on raw timestamps:\n$plan")
      assert(q.collect().map(_.toSeq).toSet == expected) // incl. guard: completes, 0 rows from the reversed interval
    } finally {
      spark.experimental.extraOptimizations = saved
      spark.conf.unset(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY)
    }
  }

  test("RangeJoinRewrite: fires on SHORT and BYTE columns, rows equal the nested loop") {
    import spark.implicits._
    val pts = (0 until 200).map(i => (i.toLong, (i * 37 % 120).toLong)).toDF("pid", "ts0")
    val ivs = (0 until 40).map { i =>
      val s = (i * 53 % 100).toLong; (s, s + i % 20)
    }.toDF("s0", "e0")
    for (t <- Seq("short", "byte")) {
      val p = pts.select($"pid", $"ts0".cast(t).as("ts"))
      val iv = ivs.select($"s0".cast(t).as("s"), $"e0".cast(t).as("e"))
      def q = p.join(iv, $"ts" >= $"s" && $"ts" <= $"e")
      val saved = spark.experimental.extraOptimizations
      try {
        val expected = q.collect().map(_.toSeq).toSet
        assert(expected.nonEmpty)
        assert(q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))

        spark.experimental.extraOptimizations = saved :+ graft.plans.RangeJoinRewrite
        spark.conf.set(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY, "16")
        val plan = q.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("__graft"),
          s"rewrite must fire on $t columns:\n$plan")
        assert(q.collect().map(_.toSeq).toSet == expected, t)
      } finally {
        spark.experimental.extraOptimizations = saved
        spark.conf.unset(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY)
      }
    }
  }

  test("RangeJoinRewrite: LEFT OUTER BETWEEN joins rewritten with null-extension preserved") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pts = (0 until 120).map(i => (i.toLong % 3, i.toLong, (i * 31 % 400).toLong))
      .toDF("k", "pid", "ts")
    val ivs = (0 until 10).map { i =>
      val s = (i * 37 % 400).toLong; (i.toLong % 3, s, s + 25)
    }.toDF("k2", "s", "e").distinct()

    // range preds in a LEFT OUTER condition: points with no containing
    // interval must survive null-extended. The UNKEYED form is the
    // nested-loop counterfactual; the keyed form plans a hash join on k
    // whose per-key matching is still |L|x|R| — the bin narrows both.
    def unkeyed = pts.join(ivs, $"ts" >= $"s" && $"ts" <= $"e", "left")
    def keyed = pts.join(ivs, $"k" === $"k2" && $"ts" >= $"s" && $"ts" <= $"e", "left")

    val saved = spark.experimental.extraOptimizations
    try {
      val expU = unkeyed.collect().map(_.toSeq).toSet
      val expK = keyed.collect().map(_.toSeq).toSet
      assert(expK.exists(_.exists(_ == null)), "fixture must produce null-extended rows")
      assert(unkeyed.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))

      spark.experimental.extraOptimizations = saved :+ graft.plans.RangeJoinRewrite
      spark.conf.set(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY, "32")
      val planU = unkeyed.queryExecution.executedPlan.toString
      assert(!planU.contains("BroadcastNestedLoopJoin") && planU.contains("__graft"),
        s"rewrite must replace the left-outer nested loop:\n$planU")
      assert(unkeyed.collect().map(_.toSeq).toSet == expU,
        "unkeyed: matched AND null-extended rows must be identical")
      assert(keyed.queryExecution.executedPlan.toString.contains("__graft"),
        "bin must join the key list in the keyed left-outer form too")
      assert(keyed.collect().map(_.toSeq).toSet == expK,
        "keyed: matched AND null-extended rows must be identical")
    } finally {
      spark.experimental.extraOptimizations = saved
      spark.conf.unset(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY)
    }
  }

  test("GraftExtensions: the spark.sql.extensions deployment path applies the rewrite in a fresh session") {
    import org.apache.spark.sql.SparkSession
    val old = spark // force-init the shared session first
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    // shares the JVM's SparkContext; never .stop() it (that would kill
    // the context under every other suite). withExtensions exercises
    // the same GraftExtensions class the static conf
    // `spark.sql.extensions=graft.plans.GraftExtensions` loads — the
    // conf route itself needs a FRESH SparkContext (static confs are
    // ignored on reuse), which one JVM-wide test context can't give us
    val s2 = SparkSession.builder().master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions())
      .config(graft.plans.RangeJoinRewrite.BIN_WIDTH_KEY, "64")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s2.implicits._
      val ptRows = (0 until 80).map(i => (i.toLong, (i * 37 % 300).toLong))
      val ivRows = (0 until 15).map(i => ((i * 41 % 300).toLong, (i * 41 % 300 + 50).toLong))
      val pts = ptRows.toDF("pid", "ts")
      val ivs = ivRows.toDF("s", "e")
      val q = pts.join(ivs, $"ts" >= $"s" && $"ts" <= $"e")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val want = (for { (p, t) <- ptRows; (s, e) <- ivRows if t >= s && t <= e }
        yield (p, s)).toSet
      assert(got == want)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("__graft"),
        s"extensions-injected rule must fire:\n$plan")
    } finally {
      SparkSession.setActiveSession(old); SparkSession.setDefaultSession(old)
    }
  }

  test("q_host_salted_agg: two shuffle-reducing aggregate pairs (salt phase + host phase)") {
    val p = plan(Queries.qHostSaltedAgg(spark, d))
    // two groupBys -> two partial/final pairs; the first keyed on
    // (host, salt) so the single hot host fans across 32 reducers
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "expected two partial/final aggregate pairs")
    assert(p.contains("xxhash64"), "salt must derive from the url hash")
  }

  test("kg_property_table: one partial/final agg pair, ONE exchange — pivot width is free") {
    val p = simplePlan(Queries.kgPropertyTable(spark, d))
    // 4 pivoted predicates must not mean 4 passes: exactly one
    // subject-keyed shuffle with map-side partial mins (SortAggregate:
    // string agg buffers are not hash-aggregable, the partial/final
    // split is what matters)
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert("partial_min".r.findAllIn(p).nonEmpty, p)
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Join"), "propertyTable must not join")
  }

  test("kg_bgp_hop: constant-term filters evaluate before the joins, not after") {
    val q = Queries.kgBgpHop(spark, d)
    q.collect() // let AQE finalize
    val p = q.queryExecution.executedPlan.toString
    // each pattern's predicate-IRI constant must restrict its own
    // branch (a Filter below every join input), never survive as a
    // post-join filter on the full product
    assert(p.contains("schema.org/containedInPlace"))
    val joinLine = p.linesIterator.find(l => l.contains("Join")).getOrElse("")
    assert(!joinLine.contains("schema.org"),
      s"pattern constants must not be join-level residuals: $joinLine")
  }

  test("kg_taxonomy_closure: per-round plans are cut — result reads RDD scans, no join tower") {
    val q = Queries.kgTaxonomyClosure(spark, d)
    // the returned frame is a union of lineage-cut rounds: executing
    // it must NOT re-run the iteration's joins (the classic iterative
    // lineage trap) — so its plan contains scans of materialized RDDs
    // and zero joins
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.take(600))
    assert(!p.contains("Join"), s"closure result must not replay round joins:\n${p.take(600)}")
  }

  test("kg_void_stats: distinct-expand plan stays bounded by the predicate-keyed shuffle") {
    val p = simplePlan(Queries.kgVoidStats(spark, d))
    assert(!p.contains("Join"), "voidStats must not join")
    assert(p.contains("expand") || p.contains("Expand"),
      "two exact distincts should compile to the expand strategy, not repeated scans")
  }
}
