package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Distributed connected components by min-label propagation with
  * pointer jumping — THE shared kernel behind d7's duplicate-cluster
  * resolution and m21's frame-cluster labeling (one fixed-point
  * definition, two operators; the result is algorithm-independent:
  * each node's label is the minimum node id in its component).
  *
  * Contract (both paths): `edges` is a symmetric edge list whose
  * endpoints are a SUBSET of `nodes.id` — d7 derives nodes from the
  * endpoints, m21's distinct-hash node set contains every pair
  * endpoint by construction. An edge endpoint absent from `nodes`
  * would silently drop in the distributed loop (its label row never
  * exists), so the driver path deliberately mirrors that scope: it
  * labels only ids present in `nodes`. Output is always
  * (`id` BIGINT, `lbl` BIGINT) regardless of which side of the size
  * gate the graph lands on — the two paths must be interchangeable.
  *
  * Scale shape: every round is a fixed number of joins/aggregations
  * over the edge and label tables (never anything driver-side that
  * scales with the data — only the convergence counter crosses to
  * the driver), and the pointer-jump pass (`lbl := lbl(lbl)`)
  * doubles label reach per round, so chain-shaped components
  * converge in O(log diameter) rounds instead of O(diameter).
  * Iterates are eagerly checkpointed ([[CkptUtil.fresh]]): `persist`
  * alone keeps the full logical plan, and a loop referencing its own
  * output twice doubles the plan tree per round — Catalyst analysis
  * time explodes long before the data does (measured in round 4;
  * what GraphX does for Pregel loops).
  */
object GraphOps {

  /** Min-label connected components, size-gated: the label is
    * ALGORITHM-INDEPENDENT (min node id per component), so the engine
    * may pick the cheapest exact algorithm for the graph at hand.
    * Below `driverMaxEdges` the edge list collects to the driver and
    * a union-find with path compression labels it in one pass — a
    * BOUNDED driver fold: the collected mass is the EDGE list and the
    * endpoint-keyed union-find (≤ 2·edges entries), so the edge gate
    * alone caps it at ~hundreds of MB NO MATTER HOW LARGE `nodes` is
    * (the round-12 hole: m21's node set is every distinct frame hash
    * and is unbounded by the edge count — a 100 TB lake with sparse
    * duplicates has billions of nodes under 20M edges; nodes never
    * collect on ANY path — isolated nodes get `lbl = id` through a
    * distributed left join). Worth it because the distributed loop
    * pays ~5 Spark jobs PER ROUND × O(log diameter) rounds of pure
    * scheduling overhead on a graph that fits in one heap (m21's
    * sf0.1 hash graph: 17.4 s looped vs <1 s collected, identical
    * labels). Above the threshold the pointer-jumping loop below is
    * the path — nothing driver-side then scales with the data.
    */
  def ccMinLabelAuto(spark: org.apache.spark.sql.SparkSession,
                     edges0: DataFrame, nodes: DataFrame,
                     driverMaxEdges: Long = 20000000L): DataFrame = {
    // checkpoint ONCE before the gate count: the gate, the driver
    // iteration and the distributed loop all re-read the edge table,
    // and the upstream is typically the expensive part (d7's LSH
    // pair pipeline) — without this pin the gate alone recomputes it
    val edges = CkptUtil.fresh(edges0.selectExpr(
      "CAST(a AS BIGINT) AS a", "CAST(b AS BIGINT) AS b"))
    if (edges.limit((driverMaxEdges + 1).toInt).count() <= driverMaxEdges)
      ccDriver(spark, edges, nodes)
    else ccMinLabel(edges, nodes)
  }

  private def ccDriver(spark: org.apache.spark.sql.SparkSession,
                       edges: DataFrame, nodes: DataFrame): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { x = p; p = parent.getOrDefault(x, x) }
      // path compression
      var y = x0
      while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
      x
    }
    // ENDPOINT-ONLY driver state (≤ 2·edges ids — bounded by the edge
    // gate, never by |nodes|); insertion-ordered so the label table is
    // deterministic
    val endpoints = new java.util.LinkedHashSet[Long]()
    for (r <- edges.as[(Long, Long)].toLocalIterator().asScala) {
      endpoints.add(r._1)
      endpoints.add(r._2)
      val ra = find(r._1)
      val rb = find(r._2)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // roots carry the component MIN because unions always point the
    // larger root at the smaller one
    val lbl = endpoints.iterator().asScala.map(id => (id, find(id))).toSeq
    val lblDf = spark.createDataset(lbl).toDF("ep_id", "ep_lbl")
    // isolated nodes label themselves DISTRIBUTED — the node table
    // never crosses to the driver
    nodes.selectExpr("CAST(id AS BIGINT) AS id")
      .join(lblDf, col("id") === col("ep_id"), "left")
      .selectExpr("id", "coalesce(ep_lbl, id) AS lbl")
  }

  /** Min-label connected components (the distributed loop).
    *
    * @param edges SYMMETRIC edge list (both directions present),
    *              columns `a`, `b`; endpoints ⊆ `nodes.id`
    * @param nodes one column `id`; isolated nodes keep their own id
    *              as label
    * @return columns `id` BIGINT, `lbl` BIGINT (min id in the
    *         component) — same types as the driver path
    */
  def ccMinLabel(edges0: DataFrame, nodes: DataFrame): DataFrame = {
    val edges = ckptIfNeeded(edges0.selectExpr(
      "CAST(a AS BIGINT) AS a", "CAST(b AS BIGINT) AS b"))
    var labels = CkptUtil.fresh(nodes.selectExpr(
      "CAST(id AS BIGINT) AS id", "CAST(id AS BIGINT) AS lbl"))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      rounds += 1
      // neighbor-min pass: every node takes the min label on its edges
      val prop = edges.join(labels, col("a") === col("id"))
        .groupBy(col("b")).agg(min(col("lbl")).as("nlbl"))
      val stepped = labels.join(prop, col("id") === col("b"), "left")
        .selectExpr("id", "least(lbl, coalesce(nlbl, lbl)) AS lbl")
      // pointer-jump pass (lbl := lbl(lbl)): labels always point at a
      // node of the same component with a <= id, so composing the
      // pointer doubles the reach
      val parents = stepped.selectExpr("id AS p_id", "lbl AS p_lbl")
      val next = CkptUtil.fresh(
        stepped.join(parents, col("lbl") === col("p_id"), "left")
          .selectExpr("id", "coalesce(p_lbl, lbl) AS lbl"))
      changed = next.as("n").join(labels.as("o"), "id")
        .where(col("n.lbl") =!= col("o.lbl")).count()
      labels = next
    }
    require(changed == 0, s"label propagation did not converge in $rounds rounds")
    labels
  }

  /** Checkpoint unless the plan is already a checkpointed scan (the
    * ccMinLabelAuto hand-off): re-materializing a LogicalRDD buys
    * nothing and copies the edge table once more. */
  private def ckptIfNeeded(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _: org.apache.spark.sql.catalyst.plans.logical.Project
        if isRddScan(df) => df
      case _ => CkptUtil.fresh(df)
    }

  private def isRddScan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
}
