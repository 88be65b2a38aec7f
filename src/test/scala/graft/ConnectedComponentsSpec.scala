package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.resolve.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** driver-side union-find oracle — UTF-8 byte ordering, i.e. Spark's
    * binary UTF8String comparison (differs from Java UTF-16 `<` for
    * supplementary code points).
    */
  private val utf8Ord: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def unionFind(nodes: Seq[String], edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(utf8Ord.max(ra, rb)) = utf8Ord.min(ra, rb)
    }
    // compress to min member per component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min(utf8Ord)
      members.map(_ -> m)
    }
  }

  private def check(nodes: Seq[String], edges: Seq[(String, String)]): Unit = {
    val want = unionFind(nodes, edges)
    // BOTH execution paths must agree with the oracle: the adaptive
    // driver-side union-find finish (default — these graphs are small)
    // and the distributed large/small-star fixpoint (forced by a zero
    // driver-finish threshold).
    val gotDriver = ConnectedComponents.assignAll(
      spark, nodes.toDF("conv_id"), edges.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(gotDriver === want)
    val gotDistributed = ConnectedComponents.assignAll(
      spark, nodes.toDF("conv_id"), edges.toDF("src", "dst"),
      driverFinishMaxEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(gotDistributed === want)
  }

  test("simple chain, triangle, singletons") {
    check(
      nodes = Seq("a", "b", "c", "d", "e", "f", "g"),
      edges = Seq(("a", "b"), ("b", "c"), ("d", "e"), ("e", "d"), ("f", "f")))
  }

  test("two stars merged by a bridge") {
    val star1 = (1 to 10).map(i => ("h01", f"h$i%02d"))
    val star2 = (11 to 20).map(i => ("h11", f"h$i%02d"))
    val nodes = (1 to 20).map(i => f"h$i%02d")
    check(nodes, star1 ++ star2 ++ Seq(("h05", "h15")))
  }

  test("random graphs match union-find oracle") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val nodes = (0 until n).map(i => f"n$i%03d")
      val edges = (0 until n).map { _ =>
        (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n)))
      }
      check(nodes, edges)
    }
  }

  test("parquet round barrier: random graphs match the in-memory star rounds and driver finish") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val nodes = (0 until n).map(i => f"n$i%03d")
      val edges = (0 until n).map(_ => (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
        .toDF("src", "dst")
      val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
      def components(checkpointDir: Option[String], gate: Long) =
        ConnectedComponents.run(spark, edges, checkpointDir, gate)
          .as[(String, String)].collect().toMap
      val parquet = components(Some(dir.toString), 0L)
      assert(dir.toFile.list().exists(_.startsWith("cc_iter_")), "no parquet round was written")
      assert(parquet === components(None, 0L))
      assert(parquet === components(None, ConnectedComponents.DriverFinishMaxEdges))
    }
  }

  test("non-BMP ids: driver finish and distributed path agree on UTF-8 root") {
    // U+10000 (surrogate pair 0xD800 0xDC00) sorts BELOW U+FFFD in Java
    // UTF-16 code-unit order but ABOVE it in UTF-8 byte order (F0 90 80 80
    // vs EF BF BD) — Spark's binary string ordering. Both CC paths must
    // pick the UTF-8 minimum as the cluster root (ADVICE r3 / VERDICT r3 #7).
    val supp = "𐀀id" // U+10000 prefix
    val bmp = "�id" // U+FFFD prefix
    assert(supp < bmp, "precondition: UTF-16 order says supp < bmp")
    assert(utf8Ord.lt(bmp, supp), "precondition: UTF-8 order says bmp < supp")
    check(
      nodes = Seq(supp, bmp, "zz", "aa"),
      edges = Seq((supp, bmp), (bmp, "zz")))
  }

  test("long path (stresses iteration count: doubling convergence)") {
    val n = 64
    val nodes = (0 until n).map(i => f"p$i%03d")
    val edges = (0 until n - 1).map(i => (nodes(i), nodes(i + 1)))
    check(nodes, edges)
  }

  test("mid-loop driver-finish tail: edge count crosses the gate after round 1") {
    // VERDICT r5 #1: the convergence-tail branch (ConnectedComponents.run
    // — driver finish when a round's output falls under the gate
    // mid-iteration) was shipped untested. Construct exactly its case: a
    // K7 clique has 21 canonical edges (> gate 10, so the distributed
    // loop is entered, not the entry-check finish), and one star round
    // contracts it to a star of 6 edges (<= gate 10, and != the input
    // multiset so the round is NOT a fixpoint) — the tail branch must
    // fire on iteration 1 and the driver union-find must produce the
    // oracle components. Preconditions asserted explicitly so the test
    // fails loudly if a starRound change stops exercising the branch.
    val n = 7
    val gate = 10L
    val nodes = (0 until n).map(i => f"k$i%02d")
    val edges = for { i <- 0 until n; j <- i + 1 until n } yield (nodes(i), nodes(j))
    val canonical = edges.toDF("src", "dst")
    assert(edges.size.toLong > gate, "precondition: entry check must NOT fire")
    val after1 = ConnectedComponents.starRound(canonical)
      .as[(String, String)].collect().toSet
    assert(after1.size.toLong <= gate,
      "precondition: round 1 output must fall under the gate")
    assert(after1 != edges.toSet, "precondition: round 1 must not be a fixpoint")

    val want = unionFind(nodes, edges)
    val gotTail = ConnectedComponents.assignAll(
      spark, nodes.toDF("conv_id"), canonical, driverFinishMaxEdges = gate)
      .as[(String, String)].collect().toMap
    assert(gotTail === want)
    // and the forced-distributed fixpoint agrees (three-way, as in check())
    val gotDistributed = ConnectedComponents.assignAll(
      spark, nodes.toDF("conv_id"), canonical, driverFinishMaxEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(gotDistributed === want)
  }

  test("ShortType ids: driver finish and distributed path pick the numeric min root") {
    // as strings "10" < "9": a driver finish comparing the ids' text would
    // root {9, 10, 11} at 10 while the distributed least()/min() picks 9
    val ids = Seq[Short](1, 2, 9, 10, 11)
    val edges = Seq[(Short, Short)]((10, 9), (10, 11), (1, 2)).toDF("src", "dst")
    def assign(gate: Long): Map[Short, Short] = ConnectedComponents.assignAll(
      spark, ids.toDF("conv_id"), edges, driverFinishMaxEdges = gate)
      .as[(Short, Short)].collect().toMap
    val driver = assign(ConnectedComponents.DriverFinishMaxEdges)
    assert(driver === assign(0L))
    val want = Seq(1 -> 1, 2 -> 1, 9 -> 9, 10 -> 9, 11 -> 9)
      .map { case (id, root) => id.toShort -> root.toShort }.toMap
    assert(driver === want)
  }

  test("unsupported id type fails the same way on both paths") {
    val edges = Seq((1.5, 2.5)).toDF("src", "dst")
    for (gate <- Seq(ConnectedComponents.DriverFinishMaxEdges, 0L)) {
      val e = intercept[IllegalArgumentException] {
        ConnectedComponents.run(spark, edges, driverFinishMaxEdges = gate)
      }
      assert(e.getMessage.contains("ids must be a string or an integral type"))
    }
  }
}
