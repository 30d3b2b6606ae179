package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.canon.Closure

/** Specs for the distributed transitive-closure operator: exactness
  * vs a driver-side BFS model, min-dist across alternative paths,
  * cycle termination, and the maxIters guard.
  */
class ClosureSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent scalar BFS closure with min hop-distance. */
  def model(edges: Seq[(String, String)]): Set[(String, String, Long)] = {
    val adj = edges.groupBy(_._1).map { case (c, es) => c -> es.map(_._2) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    nodes.flatMap { n =>
      val dist = scala.collection.mutable.Map[String, Long]()
      var frontier = Set(n)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(f => adj.getOrElse(f, Nil))
          .filter(a => !dist.contains(a))
        frontier.foreach(a => dist(a) = d)
      }
      dist.map { case (a, dd) => (n, a, dd) }
    }.toSet
  }

  def run(edges: Seq[(String, String)], maxIters: Int = 30): Set[(String, String, Long)] =
    Closure.ancestors(edges.toDF("child", "parent").repartition(5), maxIters)
      .as[(String, String, Long)].collect().toSet

  /** `reaching` against the same model: backward to `target`, and
    * forward from `source` over the swapped edges.
    */
  def checkSeeded(edges: Seq[(String, String)], target: String, source: String): Unit = {
    val m = model(edges)
    def reach(es: Seq[(String, String)], seed: String) =
      Closure.reaching(es.toDF("child", "parent").repartition(5), seed)
        .as[(String, Long)].collect().toSet
    assert(reach(edges, target) == m.collect { case (c, `target`, d) => (c, d) })
    assert(reach(edges.map(_.swap), source) == m.collect { case (`source`, a, d) => (a, d) })
  }

  test("closure: chain + shortcut — min dist wins over the long path; matches scalar BFS") {
    // a->b->c->d->root, plus a->root shortcut (dist 1 beats 4)
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "root", "a" -> "root")
    val got = run(edges)
    assert(got == model(edges))
    assert(got.contains(("a", "root", 1L)))
    assert(got.contains(("b", "root", 3L)))
    checkSeeded(edges, target = "root", source = "a")
  }

  test("closure: diamond DAG — both paths found once, at the shared min dist") {
    val edges = Seq("x" -> "l", "x" -> "r", "l" -> "t", "r" -> "t", "t" -> "z")
    val got = run(edges)
    assert(got == model(edges))
    assert(got.count { case (c, a, _) => c == "x" && a == "t" } == 1)
    assert(got.contains(("x", "t", 2L)) && got.contains(("x", "z", 3L)))
    checkSeeded(edges, target = "t", source = "x")
  }

  test("closure: cycle terminates with every reachable pair, incl. self at cycle length") {
    val edges = Seq("p" -> "q", "q" -> "r", "r" -> "p")
    val got = run(edges)
    assert(got == model(edges))
    assert(got.contains(("p", "p", 3L)))
    checkSeeded(edges, target = "p", source = "p")
  }

  test("closure: maxIters guard throws instead of silently truncating") {
    val chain = (0 until 8).map(i => s"c$i" -> s"c${i + 1}")
    val ex = intercept[IllegalStateException] { run(chain, maxIters = 3) }
    assert(ex.getMessage.contains("converge"))
    assert(run(chain, maxIters = 8) == model(chain)) // depth 8 exactly fits
    intercept[IllegalStateException] {
      Closure.reaching(chain.toDF("child", "parent"), "c8", maxIters = 3)
    }
  }
}
