package graft.canon

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Cut

/** DataFrame-native connected components over same-as candidate edges,
  * for entity canonicalization (canonical URI = min URI per component —
  * SURVEY.md §2.2 "canonical-URI election").
  *
  * Algorithm: min-label propagation fused with pointer jumping (path
  * doubling), the DataFrame formulation of the alternating large/small
  * star idea (Kiveris et al. 2014): each round every node takes the min
  * of its own label and its neighbors' labels, then labels are
  * shortcut through two levels of indirection. Labels are STRINGS
  * (URIs) ordered lexicographically so the elected canonical is
  * deterministic under any partitioning. Round count depends on label
  * ORDER, not only on diameter: on a monotone-labelled chain the jumps
  * quarter the unresolved distance per round (5 rounds for a 200-node
  * chain, the quiet one included), but on a random-labelled path the
  * rounds grow roughly linearly with its length (a driver-side
  * simulation of this loop over 5 seeds: 17–49 rounds for 64 nodes,
  * 84–342 for 500). Rounds run through [[Fixpoint]]; the probe is a
  * hash-sum aggregate, not a driver collect of the labels.
  *
  * GraphFrames is unavailable in this environment and GraphX would
  * drop to RDDs (forbidden by input_hint unless forced) — DataFrame CC
  * is both compliant and shuffle-equivalent (SURVEY.md §4.2).
  */
object ConnectedComponents {

  /** Edge-count threshold below which CC runs as driver-side
    * union-find — a broadcast join in the graph sense, and literally
    * one: when the DISTINCT same-as edge set (not the page corpus!)
    * fits on the driver, the iterative shuffle loop's per-round
    * scheduling cost dwarfs the actual work, so the edges are
    * collected and labelled by [[localCC]] ([[components]]). The labels
    * leave the driver in ONE `SparkContext.broadcast`: [[runCounted]]
    * returns `spark.range(n)` reading row `i` from it, so its plan has
    * the same size for 100 edges or 2M (a `LocalRelation` of the labels
    * would be carried through every downstream analysis, optimizer pass
    * and AQE re-plan, row by row on the driver), and `Pipeline.stageB`
    * and `Dedup.clusterAndElect` read the non-root labels through one
    * lookup broadcast ([[lookup]]) instead. The
    * broadcast is owned by the result, like [[graft.util.Cut]]'s
    * blocks: the frame's plan holds it, and the ContextCleaner drops it
    * once the frame is unreachable. Real web same-as graphs are sparse
    * relative to the corpus; above the threshold the distributed loop
    * takes over.
    */
  val localEdgeThreshold: Long = 2000000L

  /** Exact min-label union-find (union-to-min keeps every root the
    * lexicographically smallest member, so results are identical to
    * the distributed loop).
    */
  def localCC(pairs: Iterator[(String, String)]): Iterator[(String, String)] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- pairs) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(ra, ra); parent.getOrElseUpdate(rb, rb)
    }
    val nodes = parent.keys.toArray
    nodes.iterator.map(n => n -> find(n))
  }

  /** @param edges DataFrame with string columns (src, dst)
    * @return DataFrame (node, component) — component = min URI in the
    *         node's connected component
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25,
      localThreshold: Long = localEdgeThreshold): DataFrame =
    runCounted(spark, edges, maxIter, localThreshold)._1

  /** [[run]] plus the distributed round count actually executed (0 for
    * the driver union-find path) — the observable the skew-stress spec
    * bounds for its monotone chains. Convergence is detected by one
    * extra round that changes nothing, so a graph whose labels settle
    * in round k needs `maxIter >= k + 1`.
    */
  def runCounted(spark: SparkSession, edges: DataFrame, maxIter: Int = 25,
      localThreshold: Long = localEdgeThreshold): (DataFrame, Int) =
    components(spark, edges, maxIter, localThreshold) match {
      case Left(labels) => (labelFrame(spark, labels), 0)
      case Right(distributed) => distributed
    }

  /** (node, comp) as `spark.range(n)` reading row `i` from ONE
    * broadcast of the driver labels.
    */
  private[graft] def labelFrame(spark: SparkSession, labels: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(labels)
    spark.range(labels.length)
      .mapPartitions { ids => val a = b.value; ids.map(i => a(i.toInt)) }
      .toDF("node", "comp")
  }

  /** The driver labels as ONE lookup broadcast: the returned function
    * rewrites a node to its component and leaves any other value, roots
    * and NULL included, as it is. Roots are left out of the map. The
    * broadcast is owned by the plans of the Columns it builds, like
    * [[labelFrame]]'s, so no action on them collects or rebuilds it.
    */
  private[graft] def lookup(spark: SparkSession, labels: Array[(String, String)]): Column => Column = {
    val m = new java.util.HashMap[String, String](labels.length * 4 / 3 + 1)
    labels.foreach { case (node, comp) => if (node != comp) m.put(node, comp) }
    val b = spark.sparkContext.broadcast(m)
    val canonical = udf((uri: String) => b.value.getOrDefault(uri, uri))
    c => canonical(c)
  }

  /** The components as the path that computed them: the driver
    * union-find's (node, comp) labels when the distinct edge set has at
    * most `localThreshold` rows, else the distributed loop's frame and
    * round count.
    */
  private[graft] def components(spark: SparkSession, edges: DataFrame, maxIter: Int,
      localThreshold: Long): Either[Array[(String, String)], (DataFrame, Int)] = {
    import spark.implicits._
    // checkpoint the distinct edge set ONCE: everything downstream
    // re-reads it, and without truncation each action would re-execute
    // the full upstream lineage (pages scan -> mention detection ->
    // linking) — measured as the dominant serial cost
    val e0 = Cut.cut(edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())

    if (e0.count() <= localThreshold)
      return Left(localCC(e0.as[(String, String)].collect().iterator).toArray)

    val sym = Cut.cut(e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())

    val nodes = sym.select(col("src").as("node")).distinct()

    // labels only ever decrease, so any change flips the hash-sum; the
    // previous round's hash is remembered, not recomputed (decimal sum:
    // exact, no ANSI long-overflow at any row count that fits 38 digits)
    val hashSum = sum(xxhash64(col("node"), col("comp")).cast("decimal(20,0)"))
    val seed = Cut.cut(nodes.withColumn("comp", col("node")))
    val ((comp, _), rounds) = Fixpoint.iterate((seed, seed.agg(hashSum).first()),
        maxIter, "connected components", hashSum) { case (comp, _) =>
      // neighbor-min: comp'(u) = min(comp(u), min_{v in N(u)} comp(v))
      val nbrMin = sym
        .join(comp.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("comp")).as("nbr_comp"))
      val propagated = comp.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // double pointer jump: comp -> comp² -> comp⁴ per round (two
      // joins). The second jump reuses the first's exchange within one
      // action.
      def jump(m: DataFrame): DataFrame = m.as("a")
        .join(m.select(col("node").as("jn"), col("comp").as("jc")).as("b"),
          col("a.comp") === col("b.jn"), "left")
        .select(col("a.node").as("node"), coalesce(col("jc"), col("a.comp")).as("comp"))
      jump(jump(propagated))
    } { case ((_, prev), jumped, h) => if (h == prev) None else Some((jumped, h)) }
    Right((comp, rounds))
  }

  /** Canonical mapping only for nodes whose canonical differs. */
  def canonicalMap(cc: DataFrame): DataFrame =
    cc.filter(col("node") =!= col("comp"))
      .select(col("node").as("uri"), col("comp").as("canonical"))
}
