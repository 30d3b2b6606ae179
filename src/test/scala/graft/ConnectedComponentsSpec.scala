package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.canon.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plain union-find oracle. */
  def oracle(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: String, b: String): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    edges.foreach { case (a, b) => union(a, b) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }
  }

  /** Runs BOTH execution paths (driver union-find fast path and the
    * distributed loop, forced via localThreshold = 0) and asserts they
    * agree before returning.
    */
  def runCc(edges: Seq[(String, String)]): Map[String, String] = {
    val df = edges.toDF("src", "dst")
    val local = ConnectedComponents.run(spark, df)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = ConnectedComponents.run(spark, df, localThreshold = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist, "local union-find and distributed loop disagree")
    local
  }

  test("reliable checkpointing: distributed loop correct with a checkpoint dir set") {
    val dir = TestSpark.tempDir("graft-cc-ckpt")
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      val edges = (0 until 40).map(i => (f"n$i%03d", f"n${(i + 3) % 40}%03d"))
      // held while asserting: the cleaner drops the checkpoint files of
      // an unreachable result
      val cc = ConnectedComponents.run(spark, edges.toDF("src", "dst"), localThreshold = 0)
      val out = cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == oracle(edges))
      // the reliable path actually wrote checkpoint data: setCheckpointDir
      // alone creates the UUID directory, only checkpoint() writes rdd-*
      val rddDirs = new java.io.File(dir).listFiles().toSeq
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.nonEmpty, "no reliable checkpoint data (rdd-*) written")
      assert(cc.count() == 40)
    } finally {
      // unset so other specs keep exercising the localCheckpoint path
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("fixed shapes: chain, star, bridge, singleton edge (FIXTURES.md F3)") {
    val chain = (0 until 30).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val star = (1 until 20).map(i => (f"s$i%03d", "s000"))
    val bridged = Seq(("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("b2", "b3"), ("a3", "b1"))
    val single = Seq(("z1", "z1")) // self loop
    val edges = chain ++ star ++ bridged ++ single
    assert(runCc(edges) == oracle(edges))
  }

  test("monotone long chain converges in O(log n) rounds (pointer jumping)") {
    // labels increase along the chain, so each round's two jumps quarter
    // the unresolved distance: 4 rounds that change labels + 1 quiet one
    val chain = (0 until 200).map(i => (f"n$i%04d", f"n${i + 1}%04d"))
    val (cc, rounds) = ConnectedComponents.runCounted(spark, chain.toDF("src", "dst"),
      localThreshold = 0)
    val got = cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == oracle(chain))
    assert(got.values.toSet == Set("n0000"))
    assert(got.size == 201)
    assert(rounds == 5, s"round count $rounds")
  }

  test("property: CC == union-find oracle on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 12).foreach { trial =>
      val n = 2 + rnd.nextInt(39)
      val m = 1 + rnd.nextInt(60)
      val es = (0 until m).map { _ =>
        (f"v${rnd.nextInt(n)}%03d", f"v${rnd.nextInt(n)}%03d")
      }
      assert(runCc(es) == oracle(es), s"trial=$trial edges=$es")
    }
  }

  test("skew stress: power-law graph, hot hub, >=4M edges, distributed loop, O(log d) rounds") {
    // The north rule's skew case for the one iterative operator: a
    // web-scale same-as graph is power-law — one giant component with a
    // hot hub — plus a long tail of small clusters. Generated
    // DISTRIBUTEDLY (never a driver-side Seq at this size):
    //   family A (giant + hub): nodes 1..3M, tree edges (i, i/2) and a
    //     degree-750k hub at node 0 via (i, 0) for i % 4 == 0;
    //   family B (deep tail): 1000 chains of length 1000 starting at
    //     10M + k*1000 — diameter 999, the worst case for label travel.
    // Expected labels are closed-form from the generative model —
    // exactly what union-find-by-min yields (the oracle at collectible
    // sizes, pinned by the property test above): uri(0) for family A,
    // the chain head for family B.
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    def uri(c: org.apache.spark.sql.Column) =
      concat(lit("u:"), lpad(c.cast("string"), 9, "0"))
    val n = 3000000L
    val treeA = spark.range(1L, n + 1)
      .select(uri($"id").as("src"), uri(expr("id div 2")).as("dst"))
    val hubA = spark.range(1L, n + 1).filter($"id" % 4 === 0)
      .select(uri($"id").as("src"), uri(lit(0)).as("dst"))
    val chainB = spark.range(0L, 1000000L).filter($"id" % 1000 =!= 0)
      .select(uri($"id" + 10000000L).as("src"), uri($"id" + 10000000L - 1).as("dst"))
    val edges = treeA.unionByName(hubA).unionByName(chainB)
    assert(edges.count() >= 4000000L, "fixture must exceed 4M edges")

    val (cc, rounds) = ConnectedComponents.runCounted(spark, edges,
      maxIter = 25, localThreshold = 0)
    // fused min-propagation + double pointer jumping quarters the
    // unresolved distance per round: ceil(log4(diameter 999)) = 5,
    // +1 convergence-detect, +margin
    assert(rounds >= 2 && rounds <= 10, s"round count $rounds breaks the O(log d) bound")

    // validate distributively — no 4M-row collect on the driver
    // (try_cast: node 0 zero-strips to '', a hard error under ANSI cast)
    val parsed = cc.select(
      coalesce(expr("try_cast(regexp_replace(node, '^u:0*', '') as bigint)"), lit(0L)).as("id"),
      $"comp")
    val expected = when($"id" < 10000000L, uri(lit(0)))
      .otherwise(uri(($"id" - 10000000L - pmod($"id" - 10000000L, lit(1000))) + 10000000L))
    val bad = parsed.filter($"comp" =!= expected).count()
    assert(bad == 0L, s"$bad nodes got a non-union-find label")
    assert(cc.count() == n + 1 + 1000000L)
  }

  test("result invariant under edge-list partitioning") {
    val edges = (0 until 50).map(i => (f"x${i % 17}%03d", f"x${(i * 7) % 17}%03d"))
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df2 = edges.toDF("src", "dst").repartition(13)
    for (thr <- Seq(0L, 1000000L)) {
      val r1 = ConnectedComponents.run(spark, df1, localThreshold = thr)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val r2 = ConnectedComponents.run(spark, df2, localThreshold = thr)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(r1 == r2, s"threshold=$thr")
    }
  }

  test("driver path: plan size does not grow with the graph (labels leave in one broadcast)") {
    // serialized bytes, not the plan string: a LocalRelation prints only
    // its output columns, however many rows it carries
    def analyzedSize(n: Int): Int = {
      val chain = (0 until n).map(i => (f"n$i%06d", f"n${i + 1}%06d")).toDF("src", "dst")
      val plan = ConnectedComponents.run(spark, chain).queryExecution.analyzed
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(plan) finally out.close()
      bytes.size()
    }
    val small = analyzedSize(100)
    val big = analyzedSize(20000)
    assert(big <= small, s"analyzed plan grew with the graph: $small -> $big bytes")
  }

  test("driver path: two actions across a GC return identical rows (the frame keeps its broadcast)") {
    val edges = (0 until 500).map(i => (f"g$i%04d", f"g${(i * 7) % 500}%04d"))
    val cc = ConnectedComponents.run(spark, edges.toDF("src", "dst"))
    val first = cc.collect().toSeq
    System.gc()
    Thread.sleep(200) // let the ContextCleaner act on whatever the GC released
    val second = cc.collect().toSeq
    assert(first == second)
    assert(first.map(r => r.getString(0) -> r.getString(1)).toMap == oracle(edges))
  }

  test("distributed loop throws at maxIter instead of returning unconverged labels") {
    // a path with random labels needs far more than 2 rounds (min-label
    // propagation plus pointer jumping only shortcuts monotone chains)
    val order = new scala.util.Random(11).shuffle((0 until 64).map(i => f"r$i%02d"))
    val path = order.zip(order.tail).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(spark, path, maxIter = 2, localThreshold = 0)
    }
    assert(e.getMessage.contains("after 2 rounds") && e.getMessage.contains("maxIter = 2"),
      e.getMessage)
  }
}
