package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * cluster-resolution stage of a dedup pipeline: near-dup candidate PAIRS
  * (MinHash/LSH, SimHash, embedding buckets) are only edges; merging a
  * corpus needs the transitive closure (a~b, b~c ⇒ {a,b,c} is ONE
  * duplicate cluster with one surviving representative).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014). Each
  * round is two groupBy+join passes over the edge list — plain shuffles,
  * nothing driver-side except the O(log n) convergence loop — and the
  * round count is logarithmic in the largest component REGARDLESS of
  * graph diameter (naive min-label propagation needs O(diameter) rounds:
  * a 10M-node chain would take 10M passes; this takes ~24).
  *
  * Each round's result is `localCheckpoint`ed to truncate lineage —
  * without it the plan doubles per iteration and Catalyst analysis
  * dominates. On a fault-tolerant cluster run, swap in reliable
  * `checkpoint` with a checkpoint dir; the algorithm is oblivious.
  */
object ConnectedComponents {

  /** Lineage-truncating barrier for the iteration: localCheckpoint,
    * then rebuild the frame from the checkpointed RDD so the logical
    * plan is a bare scan. The rebuild matters: LogicalRDD CARRIES the
    * original plan's constraints, and a constraint referencing a
    * pre-alias attribute trips Spark's Union constraint-rewrite
    * (`UnionBase.rewriteConstraints` → "key not found: dst#N") when
    * the star steps re-union the checkpointed edges — observed with
    * union-shaped edge inputs (hammingEdges). A bare-scan plan
    * carries no constraints, so the loop is immune to whatever plan
    * produced its input. Identity on data; same eager materialization
    * localCheckpoint always had.
    *
    * The checkpoint is taken at the InternalRow layer
    * ([[org.apache.spark.sql.GraftBridge.bareLocalCheckpointWithCount]]
    * — Dataset.localCheckpoint's own internals, minus the LogicalRDD
    * origin-constraint attachment that caused the Union crash), so the
    * constraint immunity is conversion-free: the earlier rebuild
    * through the public `createDataFrame(c.rdd, schema)` cost +24% on
    * a 21-round 2²⁰-node chain and +10% on a 2M-edge random graph
    * (SCALE.md "CC barrier: rebuild tax measured, then removed"). It
    * also returns the row count its materialization job already
    * computed — the convergence loop's count would otherwise be a
    * second job per round over the just-pinned blocks (r22). */
  private def ckptBarrier(df: DataFrame): (DataFrame, Long) =
    org.apache.spark.sql.GraftBridge.bareLocalCheckpointWithCount(df)

  /** Star step shared shape: emit (v, m(u)) for the chosen neighbor set.
    * largeStar: over the SYMMETRIZED edges, m(u) = min(Γ(u) ∪ {u}),
    * emitted for strictly larger neighbors v > u — hangs every node's
    * big neighbors under its local minimum.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy("src")
      .agg(min(col("dst")).as("__mn"))
      .select(col("src"), least(col("src"), col("__mn")).as("__m"))
    sym.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("__m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** smallStar: orient each edge large→small; m(u) = min of u's smaller
    * neighbors (all dst < src by construction, so min(dst) suffices);
    * re-hang u AND its small neighbors under m(u). */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst")).distinct()
    val m = oriented.groupBy("src").agg(min(col("dst")).as("__m"))
    oriented.join(m, "src")
      .select(col("dst").as("src"), col("__m").as("dst"))
      .union(m.select(col("src"), col("__m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Components of the graph given by (aCol, bCol) edge rows.
    *
    * @return one row per node appearing in an edge: (id, component),
    *         component = the minimum node id reachable. Isolated nodes
    *         (absent from the edge list) are the caller's to union in —
    *         a doc with no candidate pair is its own singleton cluster.
    */
  def run(edges: DataFrame, aCol: String, bCol: String,
          maxIter: Int = 30): DataFrame = {
    var (e, prevCount) = ckptBarrier(edges
      .select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct())
    var stable = false
    var it = 0
    while (!stable && it < maxIter) {
      val (next, nextCount) = ckptBarrier(smallStar(largeStar(e)))
      // both sides are distinct sets: equal count + empty one-sided
      // difference ⇒ set equality ⇒ fixed point reached
      stable = nextCount == prevCount && next.except(e).isEmpty
      e = next
      prevCount = nextCount
      it += 1
    }
    // fixed point is a star forest: every edge is (member, root). The
    // roots themselves appear only on the dst side — union them back.
    e.select(col("src").as("id"), col("dst").as("component"))
      .union(e.select(col("dst").as("id"), col("dst").as("component")))
      .distinct()
  }

  /** Dedup resolution: drop every non-representative cluster member.
    * Keeps each component's minimum-id row plus all rows that never
    * appeared in a candidate pair. This is the "resolve" half that makes
    * pairwise dedup output actionable on a corpus. */
  def resolve(df: DataFrame, idCol: String, edges: DataFrame,
              aCol: String, bCol: String): DataFrame = {
    val losers = run(edges, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }
}
