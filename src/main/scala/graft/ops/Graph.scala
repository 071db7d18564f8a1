package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list, via alternating
  * large-star / small-star rounds (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14 — public algorithm).
  *
  * Why this and not label propagation: min-label propagation needs
  * O(graph diameter) rounds — a pathological near-dup chain (doc A ~ B
  * ~ C ~ ...) makes that linear. The star operators contract both ends
  * of every path simultaneously and converge in O(log² n) rounds on
  * any graph, each round being two hash aggregations + two hash joins
  * on the (monotonically shrinking) edge set. That is the shape that
  * survives a 100 TB near-dup graph: no driver-side union-find, no
  * per-round growth, state = the edge set itself.
  *
  * Spark notes: every round ends in `localCheckpoint` — iterative
  * DataFrames otherwise accumulate a plan of depth O(rounds), and
  * Catalyst re-optimizes the whole history each action. On a real
  * cluster promote to reliable `checkpoint` (survives executor loss;
  * same call shape).
  */
object Graph {

  /** Large-star round: for every node u, connect each STRICTLY LARGER
    * neighbor to the minimum of u's closed neighborhood. Detaches the
    * tails of long paths onto their local minimum without ever growing
    * the edge count (emitted edges ≤ input directed edges).
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = bidir.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    bidir.filter(col("dst") > col("src"))
      .join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star round: orient every edge large→small, then connect
    * each of u's smaller neighbors (and u itself) to the minimum
    * neighbor. Contracts the heads of paths; together with large-star
    * this doubles the contraction rate per round.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val mins = oriented.groupBy("src").agg(min("dst").as("m"))
    oriented.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Labels every node reachable through `edges` (`src`/`dst` integer
    * columns) with its component's minimum node id. Nodes absent from
    * the edge list are absent from the result — union `(node, node)`
    * singletons downstream if the full domain is wanted.
    *
    * Convergence test is exact, not a checksum: the star rounds are a
    * fixpoint iff every component is a star rooted at its minimum, so
    * we stop when a round leaves the edge SET unchanged (equal count +
    * empty `exceptAll`, both on checkpointed frames; each count is an
    * Observation on its round's eager pin, not a job of its own).
    * `maxIter` is a safety rail far above the O(log² n) bound;
    * non-convergence throws rather than returning partial labels.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      assumeDistinct: Boolean = false): DataFrame = {
    val base = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    // callers whose edge list is distinct by construction (q61: a
    // groupBy output) skip one shuffle here
    var (e, o0) = Sinks.observedPin(
      if (assumeDistinct) base else base.distinct())
    var eCount = Sinks.observedCount(o0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val (next, o) = Sinks.observedPin(smallStar(largeStar(e)))
      val nextCount = Sinks.observedCount(o)
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      i += 1
    }
    require(converged || eCount == 0L,
      s"connectedComponents did not converge in $maxIter rounds")
    // Fixpoint edges are stars (v, root): label members off src and
    // roots off dst; groupBy-min collapses the overlap.
    e.select(col("src").as("node"), col("dst").as("component"))
      .union(e.select(col("dst").as("node"), col("dst").as("component")))
      .groupBy("node").agg(min("component").as("component"))
  }
}
