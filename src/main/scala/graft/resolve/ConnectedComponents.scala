package graft.resolve

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SparkOrder

/** Transitive closure of match edges into entity clusters via alternating
  * large-star / small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — the new capability vs the reference
  * (which is link-only, splink_model.json:2) mandated by BASELINE.json.
  *
  * Pure DataFrame implementation (no RDD/GraphX):
  *   large-star: for each node u and neighbours N(u), connect every
  *     v in N(u) with v > u to m = min(N(u) ∪ {u});
  *   small-star: connect every v in N(u) with v <= u (v != m) to m.
  * Iterate until the edge multiset reaches a fixpoint; result is a forest
  * of depth 1 rooted at each component's minimum node.
  *
  * Scale: each round is two groupBy shuffles on node id. The entry edge set
  * and every round are materialised once, as one Spark job: an eager
  * localCheckpoint, or a parquet write under `checkpointDir` (a cut that
  * survives a lost executor; no rerun reads it back). Convergence is
  * checked via the (count, sum of hashes) signature observed on that job.
  */
object ConnectedComponents {

  /** Edge sets at or below this size are finished EXACTLY on the driver
    * with union-find instead of iterating: each large/small-star round is
    * four shuffles plus a materialisation barrier, and on a small edge set
    * (the common case after blocking thresholds, and the tail of any
    * convergence) 3-5 such rounds cost tens of seconds of pure stage
    * latency for milliseconds of actual work. Same output by construction
    * (components are unique; root = min id). The distributed path is
    * untouched above the threshold — this is the AQE-style "smallness"
    * adaptation, decided from the count the convergence signature already
    * computes.
    *
    * Default 100k edges: the collect is ~2 Rows-worth of string ids per
    * edge, so 100k stays well under typical 1g spark-submit driver heaps
    * (a 1M default risked several hundred MB of driver Rows + union-find
    * map — ADVICE r3). Callers with big drivers can raise it explicitly.
    */
  val DriverFinishMaxEdges = 100000L

  /** Star rounds before giving up on a fixpoint (with a warning). */
  private val MaxIterations = 20

  /** @param edges two columns (src, dst) of string or integral ids; undirected.
    * @return (conv_id, cluster_id): every node mapped to its component's
    *         minimum node id. Nodes absent from `edges` are not returned —
    *         union singletons in the caller.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      checkpointDir: Option[String] = None,
      driverFinishMaxEdges: Long = DriverFinishMaxEdges): DataFrame = {
    val srcCol = edges.columns(0)
    val dstCol = edges.columns(1)

    // canonical undirected edge set, self-loops dropped
    val canonical = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    // the driver finish's id order, taken before anything runs so an
    // unsupported id type fails whichever path the edge count selects
    val idOrder = SparkOrder(canonical.schema("src").dataType)

    // The only materialisation site: one job writes `df` and observes its
    // (count, order-independent hash-sum) signature; decimal sum so the
    // aggregate cannot overflow under ANSI mode.
    def materialise(df: DataFrame, name: String): (DataFrame, (Long, String)) = {
      val sig = Observation()
      val observed = df.observe(sig, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).cast("string").as("h"))
      val out = checkpointDir match {
        case Some(dir) =>
          val path = s"$dir/$name"
          observed.write.mode("overwrite").parquet(path)
          spark.read.schema(df.schema).parquet(path)
        case None => observed.localCheckpoint(eager = true)
      }
      val m = sig.get
      (out, (m("n").asInstanceOf[Long], m("h").asInstanceOf[String]))
    }

    // seeded with the INPUT edge set's signature: a round whose output
    // equals its input is a fixpoint — detected without an extra
    // confirmation round (VERDICT r2 #7).
    var (e, prevSig) = materialise(canonical, "cc_edges")
    var converged = false
    var iter = 0
    // the driver-finish gate is part of the loop condition: an edge set at
    // or below it (at entry or after any round) leaves the loop for the
    // exact union-find finish below
    while (!converged && prevSig._1 > driverFinishMaxEdges && iter < MaxIterations) {
      val (next, sig) = materialise(starRound(e), s"cc_iter_$iter")
      e = next
      converged = sig == prevSig
      prevSig = sig
      iter += 1
    }
    // convergence TAIL: star rounds shrink edge counts geometrically, so a
    // graph far above the driver-finish gate at entry often collapses below
    // it after a round or two — finishing exactly on the driver then saves
    // 2-4 more distributed rounds of pure stage latency (the gate's own
    // rationale). Safe mid-loop: every node incident to an edge survives
    // every round (members via their (u, m) self-link, roots via their
    // members' emissions), so union-find over the contracted edge set yields
    // the same components and min-id roots. prevSig._1 is the edge count the
    // convergence signature already paid for.
    if (!converged && prevSig._1 <= driverFinishMaxEdges) {
      driverUnionFind(spark, e, idOrder)
    } else {
      if (!converged) {
        // deriving assignments from a non-fixpoint forest can split
        // components inconsistently — surface it instead of silently
        // returning (ADVICE.md round 1)
        System.err.println(
          s"[graft.ConnectedComponents] WARN: edge multiset did not converge " +
            s"within $MaxIterations star rounds; cluster assignments may be partial")
      }
      // after convergence the forest has depth 1: every edge (m, v) links a
      // member to its component root m.
      e.select(col("dst").as("conv_id"), col("src").as("cluster_id"))
        .unionByName(e.select(col("src").as("conv_id"), col("src").as("cluster_id")))
        .groupBy(col("conv_id")).agg(min(col("cluster_id")).as("cluster_id"))
    }
  }

  /** One large-star + small-star round over a canonical (src < dst)
    * distinct edge set — 3 shuffles total (two window exchanges + the
    * output distinct), down from the round-4 shape's 6+ (groupBy(min) +
    * join back per star + intermediate distinct): VERDICT r4 #5 — at toy
    * scale the composed pipeline is stage-latency-bound, and CC was 137
    * stages / ~51 s at 100k convs (round 5: 44 stages / ~18 s).
    *
    * Per-node neighbourhood minima come from a window min over
    * partitionBy(u) — never collect_set (a hub's neighbour array would
    * have to fit one executor); the window sort spills, and hub degree is
    * bounded upstream by the blocking caps that generate these edges.
    * For UNBOUNDED edge inputs (run/assignAll as a public component) the
    * hub-skew question was settled by a planted-hub A/B in round 6: the
    * window form beat the groupBy(min)+join-back alternative on 1M- and
    * 4M-degree hubs and on uniform graphs of equal edge count
    * (OPTIMIZATION_r06.md §4): the join-back's extra exchange and two
    * sort-merge sorts cost more than a hub's single-task sort, which
    * spills rather than failing.
    * Large-star's output is NOT deduplicated: duplicates cannot change the
    * small-star minima and the single distinct below canonicalises the
    * round's output — one fewer shuffle for a bounded (≤2x) transient
    * fan-in.
    */
  private[graft] def starRound(e: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("u"))
    // both directions of every edge in ONE pass (explode), not a self-union
    // of two projections: a union's branches each re-derive their input, so
    // union-of-large would compute the whole large-star subplan twice per
    // iteration (the plan audit showed exactly that), leaning on exchange
    // reuse to dedupe — explode makes the single evaluation structural
    def bothDirections(edges: DataFrame): DataFrame =
      edges.select(explode(array(
        struct(col("src").as("u"), col("dst").as("v")),
        struct(col("dst").as("u"), col("src").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
    // ---- large-star: connect every v in N(u), v > u, to m = min(N(u) ∪ {u})
    val large = bothDirections(e)
      .withColumn("m", least(min(col("v")).over(wU), col("u")))
      .filter(col("v") > col("u"))
      .select(least(col("v"), col("m")).as("src"), greatest(col("v"), col("m")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // ---- small-star: connect every v in N(u), v <= u, plus u itself, to m
    bothDirections(large)
      .withColumn("mv", min(col("v")).over(wU))
      .withColumn("m", least(col("mv"), col("u")))
      // single-pass emission: the v<=u edge from every row, and the (u,m)
      // self-link once per node (from its minimal-neighbour row — v==mv
      // may fire on duplicate rows; the distinct cleans those up)
      .select(explode(filter(array(
        struct(least(col("v"), col("m")).as("s"), greatest(col("v"), col("m")).as("d"),
          (col("v") <= col("u")).as("keep")),
        struct(least(col("u"), col("m")).as("s"), greatest(col("u"), col("m")).as("d"),
          (col("v") === col("mv")).as("keep"))),
        x => x.getField("keep"))).as("edge"))
      .select(col("edge.s").as("src"), col("edge.d").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Exact driver-side finish for small edge sets: union-find with
    * min-id roots — identical output to the large/small-star fixpoint
    * (every node maps to its component's minimum id), in one collect
    * instead of 3-5 four-shuffle rounds. `idOrder` is Spark's order for the
    * id type (`SparkOrder`), so the root is the one the distributed
    * least()/min() path picks: numeric ids by value, string ids by UTF-8
    * byte order (Java's String `<` is UTF-16 code-unit order, which
    * disagrees for supplementary code points). Otherwise the root would
    * depend on which path the edge-count gate selected.
    */
  private def driverUnionFind(spark: SparkSession, e: DataFrame, idOrder: Ordering[Any]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val dt = e.schema(0).dataType
    val rows = e.collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { row =>
      val ra = find(row.get(0)); val rb = find(row.get(1))
      // merging keeps the smaller root, so each component's final root is
      // its minimum id — the distributed path's cluster_id
      if (ra != rb) { if (idOrder.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    rows.foreach { row => nodes += row.get(0); nodes += row.get(1) }
    val out = nodes.toSeq.map(n => Row(n, find(n)))
    val schema = StructType(Seq(StructField("conv_id", dt), StructField("cluster_id", dt)))
    // ~50k assignments per partition keeps serialized task sizes ~2-3 MB
    // (500k-row partitions tripped Spark's >1 MB large-task warning at
    // 25 MB/task in the 1M-conv cluster runs)
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, math.max(1, out.size / 50000)), schema)
  }

  /** Cluster assignment for all nodes: edge components + singletons. */
  def assignAll(
      spark: SparkSession,
      allIds: DataFrame, // single column conv_id
      edges: DataFrame,
      checkpointDir: Option[String] = None,
      driverFinishMaxEdges: Long = DriverFinishMaxEdges): DataFrame = {
    val idName = allIds.columns(0)
    val comp = run(spark, edges, checkpointDir = checkpointDir,
      driverFinishMaxEdges = driverFinishMaxEdges)
    allIds.select(col(idName).as("conv_id"))
      .join(comp, Seq("conv_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("conv_id")))
  }
}
