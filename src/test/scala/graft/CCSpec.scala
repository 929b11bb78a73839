package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ConnectedComponents
import graft.util.Hashing

class CCSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(String, String)], nodes: Seq[String]): Map[String, String] =
    ConnectedComponents.run(
      edges.toDF("a_id", "b_id"), nodes.toDF("conv_id"))
      .as[(String, String)].collect().toMap

  test("chain, star, two components, singleton") {
    val got = cc(
      Seq("b" -> "c", "a" -> "b", "d" -> "e", "f" -> "d", "x" -> "x"),
      Seq("a", "b", "c", "d", "e", "f", "s", "x"))
    assert(got == Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "d",
      "x" -> "x", "s" -> "s"))
  }

  test("label = component min regardless of edge orientation") {
    val got = cc(Seq("z" -> "m", "m" -> "q", "q" -> "a"), Seq("a", "m", "q", "z"))
    assert(got.values.toSet == Set("a"))
  }

  /** Property (SURVEY.md §5.2-3): CC output equals a driver-side
    * union-find oracle on seeded random graphs.
    */
  test("matches union-find oracle on random graphs") {
    for (trial <- 0 until 5) {
      val n = 60
      val nodes = (0 until n).map(i => f"n$i%03d")
      val nEdges = 40 + trial * 15
      val edges = (0 until nEdges).map { k =>
        val u = Hashing.range(n, trial.toLong, k.toLong, 1L)
        val v = Hashing.range(n, trial.toLong, k.toLong, 2L)
        (nodes(u), nodes(v))
      }.filter(e => e._1 != e._2)

      // union-find oracle
      val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
      def find(x: String): String = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val oracle = nodes.groupBy(find).flatMap { case (_, members) =>
        val m = members.min
        members.map(_ -> m)
      }

      assert(cc(edges, nodes) == oracle, s"trial $trial")
    }
  }

  /** A resumed checkpoint hands back an already-materialized iteration
    * without running the frame CC passed in, so the in-band signature
    * never fills: CC must fall back to its own signature agg, not wait.
    */
  test("resumed checkpoints (hook returns a table without running its input)") {
    val edges = Seq("b" -> "c", "a" -> "b", "d" -> "e", "f" -> "d", "c" -> "g", "g" -> "h")
      .toDF("a_id", "b_id")
    val nodes = Seq("a", "b", "c", "d", "e", "f", "g", "h", "s").toDF("conv_id")
    val saved = scala.collection.mutable.Map.empty[Int, DataFrame]
    def labels(hook: (DataFrame, Int) => DataFrame): Map[String, String] = {
      val run = Future(ConnectedComponents.run(edges, nodes, checkpoint = hook)
        .as[(String, String)].collect().toMap)(ExecutionContext.global)
      Await.result(run, 3.minutes)
    }
    val cold = labels((df, i) => { val m = df.localCheckpoint(true); saved(i) = m; m })
    assert(saved.size >= 3)
    assert(labels((_, i) => saved(i)) == cold)
    // resumed early iterations, computed later ones (a mid-clustering kill)
    assert(labels((df, i) => if (i < 2) saved(i) else df.localCheckpoint(true)) == cold)
  }
}
