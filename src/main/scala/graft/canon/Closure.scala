package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Cut

/** Distributed transitive closure with shortest hop-distance — the
  * taxonomy/ontology primitive (rdfs:subClassOf*, skos:broader*) a KG
  * needs after construction: every (node, ancestor) pair reachable
  * through the edge relation, labelled with the minimum number of
  * hops. The reference's data model stops at direct triples; closure
  * is what makes `?x rdf:type/rdfs:subClassOf* ?c` queries cheap, by
  * materializing the `*` once.
  *
  * Algorithm: level-synchronous semi-naive BFS, advanced TWO levels
  * per round (round 6): each round extends the frontier by one edge
  * hop and then a second, unions both step sets, anti-joins the
  * accumulated result, and takes min(dist) per pair. Correctness of
  * the double hop: any pair first reachable at depth d has a shortest
  * path whose length-(d−1) prefix is itself shortest, so it is either
  * in the previous frontier (odd step) or in the first step set of
  * this round at its own minimal label (even step); every label is a
  * real path length ≥ the minimum, so the min aggregate lands each
  * fresh pair exactly on its min-dist. Cycles terminate naturally:
  * the pair space is finite and every round must add a new pair or
  * stop.
  *
  * Scale shape: each round is two equi-joins of the frontier against
  * the edge table (the second reuses the first's output — no extra
  * pass over the edges), the anti-join against the accumulated
  * result, then the per-pair min — in that order, because the
  * anti-join's (child, ancestor) clustering already covers the
  * aggregate's grouping, so the min adds no exchange. Rounds =
  * ⌊depth/2⌋ + 1 (taxonomies: tens of hops → a handful of rounds), not
  * graph size; halving the rounds halves the per-round scheduling
  * latency AND the anti-join re-reads of the accumulated cut frames —
  * the dominant costs at both bench and production scale (the
  * measured round-5 profile was round-latency-bound). Rounds run
  * through [[Fixpoint]]; the result is the union of the cut rounds,
  * never re-materialized as a whole. The probe is `max(dist)`: NULL ⇒
  * done, > maxIters ⇒ the depth guard throws (a round r that is not
  * quiet finds depth ≥ 2r, so it fires before the round bound
  * ⌊maxIters/2⌋ + 1). AQE re-plans every
  * round over the cut RDDs' true sizes (runtime broadcast of a small
  * edge table, partition coalescing); a MEASURED dead end:
  * pre-partitioning + persisting the edge table to save its per-round
  * exchange pins the cached partition count, blocks those AQE
  * decisions, and ran ~2.5x SLOWER at bench scale — the same class of
  * result as the round-4 carried-union finding (BENCH.md).
  *
  * @param edges    DataFrame with `child`, `parent` columns
  * @param maxIters hard bound on closure DEPTH in hops (defence
  *                 against unexpectedly deep or adversarial graphs);
  *                 discovering a pair deeper than it throws rather
  *                 than silently truncating the closure
  * @return `child, ancestor, dist` (dist = min hops, >= 1)
  */
object Closure {

  def ancestors(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    val e = Cut.cut(edges.select(col("child"), col("parent")))
    val seed = e.select(col("child"), col("parent").as("ancestor"), lit(1L).as("dist"))
      .distinct() // multi-edges collapse to one dist-1 pair
    semiNaive(seed, Seq("child", "ancestor"), maxIters) { f =>
      f.alias("f")
        .join(e.alias("e"), col("f.ancestor") === col("e.child"))
        .select(col("f.child"), col("e.parent").as("ancestor"),
          (col("f.dist") + 1).as("dist"))
    }
  }

  /** Seeded variant: the nodes that REACH `target` through 1+ hops,
    * with min hop-distance — `child, dist`. Same double-hop
    * semi-naive BFS as [[ancestors]], but grown backwards from one
    * constant, so it materializes only the pairs a `(?x, p+,
    * <target>)` query keeps instead of the full |V|·depth closure and
    * then a filter. For forward reachability (nodes reachable FROM a
    * constant), pass the edge table with `child`/`parent` swapped.
    */
  def reaching(edges: DataFrame, target: String, maxIters: Int = 30): DataFrame = {
    val e = Cut.cut(edges.select(col("child"), col("parent")))
    val seed = e.filter(col("parent") === lit(target))
      .select(col("child"), lit(1L).as("dist")).distinct()
    semiNaive(seed, Seq("child"), maxIters) { f =>
      f.withColumnRenamed("child", "mid").alias("f")
        .join(e.alias("e"), col("e.parent") === col("f.mid"))
        .select(col("e.child"), (col("f.dist") + 1).as("dist"))
    }
  }

  /** The double-hop semi-naive loop (class doc) both closures run:
    * `seed` is the dist-1 frontier, `key` the columns naming a reached
    * pair or node, `hop` extends a frontier by one edge. The state is
    * the cut rounds so far, frontier last; the result is their union.
    */
  private def semiNaive(seed: DataFrame, key: Seq[String], maxIters: Int)(
      hop: DataFrame => DataFrame): DataFrame = {
    val (rounds, _) = Fixpoint.iterate(Vector(Cut.cut(seed)), maxIters / 2 + 1,
        "transitive closure", max(col("dist"))) { rounds =>
      val s1 = hop(rounds.last)
      // anti-join first, then min-dist: the anti-join's key clustering
      // already covers the grouping, so the aggregate adds no exchange
      s1.unionByName(hop(s1))
        .join(rounds.reduce(_ unionByName _), key, "left_anti")
        .groupBy(key.map(col): _*)
        .agg(min(col("dist")).as("dist"))
    } { (rounds, fresh, maxd) =>
      if (maxd.isNullAt(0)) None
      else if (maxd.getLong(0) > maxIters) throw new IllegalStateException(
        s"transitive closure did not converge within $maxIters rounds — " +
          "graph deeper than expected; raise maxIters deliberately")
      else Some(rounds :+ fresh)
    }
    rounds.reduce(_ unionByName _)
  }
}
