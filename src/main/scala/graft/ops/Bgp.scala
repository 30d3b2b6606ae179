package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL-style basic-graph-pattern evaluation compiled to Catalyst
  * joins over the emitted triple table — the minimal query surface a
  * KG user needs once the pipeline has materialized triples. The
  * reference exposes its converted data only as serialized files
  * (/root/reference/src/cattle.py:301); here the triple table itself
  * is the queryable artifact.
  *
  * Each pattern becomes a filtered scan of the triple table; patterns
  * are folded left with inner joins on their shared variables, so
  * Catalyst sees ordinary equi-joins: filters push into the scans,
  * highly-selective patterns broadcast, AQE reorders sizes at runtime.
  * Bag semantics (no implicit DISTINCT), like SPARQL BGP matching.
  *
  * Variable-to-column binding: a subject variable binds `s`, a
  * predicate variable binds `p`, an object variable binds `o_lex`
  * (the lexical form — an IRI string for `o_kind = "iri"`), so a
  * variable can chain an object position into a subject position
  * across patterns (the graph hop).
  */
object Bgp {

  /** A term in a triple pattern: variable, IRI constant, plain
    * literal constant (matched on lexical form), or — in predicate
    * position only — a one-or-more transitive path `P(iri)` (SPARQL
    * `iri+`).
    */
  sealed trait Term
  final case class V(name: String) extends Term
  final case class I(iri: String) extends Term
  final case class L(lex: String) extends Term

  /** Transitive predicate path (`iri+`): matches s→o connected by ONE
    * or more hops of `iri` edges. Evaluated by materializing the
    * predicate's edge closure ([[graft.canon.Closure]] — rounds =
    * path depth, not graph size) and joining it in like any other
    * pattern; IRI-object edges only (literals cannot chain).
    */
  final case class P(iri: String) extends Term

  final case class Pattern(s: Term, p: Term, o: Term)

  /** Evaluate the conjunction of `patterns` against `triples`
    * (RuleCompiler.triples schema). Returns one column per distinct
    * variable name. Disconnected pattern groups are refused rather
    * than silently cross-producted.
    */
  def query(triples: DataFrame, patterns: Seq[Pattern]): DataFrame =
    query(triples, patterns, Nil)

  /** Evaluate `patterns` (the required conjunction), then left-join
    * each `optionals` pattern in order — SPARQL OPTIONAL semantics
    * for single-pattern groups: matched rows carry the bindings,
    * unmatched rows carry NULLs. Each optional must share at least
    * one already-bound variable (its join key).
    *
    * `pathMaxIters` (ADVICE round 5) is the closure depth bound every
    * `P(iri)` transitive path in the query runs under — a legitimately
    * deeper graph raises it HERE instead of hitting the Closure
    * default with no recourse.
    *
    * Known OPTIONAL-chaining caveats (ADVICE round 5, documented
    * scope): an optional equi-joining ONLY on variables an earlier
    * optional may have left NULL diverges from SPARQL
    * compatible-mapping semantics (Spark null keys never match), and
    * object variables bind `o_lex` alone, so an IRI and a literal
    * with the same lexical form are conflated when a variable chains
    * into subject position. Optionals should share a variable bound
    * by the REQUIRED patterns — the shape every harness query uses.
    */
  def query(triples: DataFrame, patterns: Seq[Pattern],
      optionals: Seq[Pattern], pathMaxIters: Int = 30): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    val bound = patterns.map(one(triples, _, pathMaxIters))
    val joined = bound.reduceLeft { (acc, df) =>
      acc.join(df, shared(acc, df), "inner")
    }
    val withOpt = optionals.map(one(triples, _, pathMaxIters)).foldLeft(joined) { (acc, df) =>
      acc.join(df, shared(acc, df), "left")
    }
    // USING-joins move the shared columns first; normalize to the
    // variables' first-appearance order so the output is join-order
    // independent
    val varOrder = (patterns ++ optionals).flatMap(p => Seq(p.s, p.p, p.o))
      .collect { case V(n) => n }.distinct
    withOpt.select(varOrder.map(col): _*)
  }

  private def shared(acc: DataFrame, df: DataFrame): Seq[String] = {
    val s = acc.columns.toSet.intersect(df.columns.toSet).toSeq.sorted
    require(s.nonEmpty,
      "disconnected BGP: pattern shares no variable with the ones before it " +
        "(reorder the patterns or split the query) — refusing the cross product")
    s
  }

  /** One pattern → a filtered projection of its table with one column
    * per variable: the triple table, or for an `iri+` predicate the
    * path's [[closure]] standing in as an (s, o_lex) table. The terms
    * are validated here, once. A variable repeated WITHIN the pattern
    * (e.g. `?x :p ?x`) becomes an equality filter and binds once.
    */
  private def one(triples: DataFrame, pat: Pattern, pathMaxIters: Int): DataFrame = {
    def refuse(msg: String) = throw new IllegalArgumentException(msg)
    (pat.s, pat.p, pat.o) match {
      case (L(_), _, _) => refuse("subject cannot be a literal")
      case (P(_), _, _) => refuse("a path term is only valid as predicate")
      case (_, L(_), _) => refuse("predicate cannot be a literal")
      case (_, _, P(_)) => refuse("a path term is only valid as predicate")
      case (_, P(_), L(_)) => refuse("a transitive path chains IRIs; its object cannot be a literal")
      case _ =>
    }
    var df = pat.p match {
      case P(iri) => closure(triples, pat, iri, pathMaxIters)
      case _      => triples
    }
    pat.s match {
      case I(x) => df = df.filter(col("s") === lit(x))
      case _    =>
    }
    pat.p match {
      case I(x) => df = df.filter(col("p") === lit(x))
      case _    =>
    }
    pat.o match {
      case I(x) => df = df.filter(col("o_kind") === lit("iri") && col("o_lex") === lit(x))
      case L(x) => df = df.filter(col("o_kind") === lit("literal") && col("o_lex") === lit(x))
      case _    =>
    }
    // bind variables in position order s, p, o; a repeat filters instead
    val binds = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    for ((t, c) <- Seq(pat.s -> col("s"), pat.p -> col("p"), pat.o -> col("o_lex"))) t match {
      case V(n) => binds.get(n) match {
        case Some(prev) => df = df.filter(prev === c)
        case None       => binds += n -> c
      }
      case _ =>
    }
    df.select(binds.map { case (n, c) => c.as(n) }.toSeq: _*)
  }

  /** `iri+` path as an (s, o_kind, o_lex) table: the predicate's edge
    * closure, (child, ancestor) as (s, o_lex), every object an IRI. A
    * constant endpoint SEEDS the closure ([[graft.canon.Closure
    * .reaching]]) — BFS grows from the constant and materializes only
    * the pairs the pattern keeps, instead of the full |V|·depth
    * closure followed by a filter; both ends variable falls back to
    * the full closure.
    */
  private def closure(triples: DataFrame, pat: Pattern, iri: String,
      pathMaxIters: Int): DataFrame = {
    val edges = triples
      .filter(col("p") === lit(iri) && col("o_kind") === lit("iri"))
      .select(col("s").as("child"), col("o_lex").as("parent"))
    val pairs = (pat.s, pat.o) match {
      case (_, I(x)) => // seed backwards from the object constant
        graft.canon.Closure.reaching(edges, x, pathMaxIters)
          .withColumn("ancestor", lit(x))
      case (I(y), _) => // seed forwards from the subject constant
        graft.canon.Closure.reaching(
            edges.select(col("parent").as("child"), col("child").as("parent")), y,
            pathMaxIters)
          .withColumnRenamed("child", "ancestor")
          .withColumn("child", lit(y))
      case _ => graft.canon.Closure.ancestors(edges, pathMaxIters)
    }
    pairs.select(col("child").as("s"), lit("iri").as("o_kind"), col("ancestor").as("o_lex"))
  }
}
