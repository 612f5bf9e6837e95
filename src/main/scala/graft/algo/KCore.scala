package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.derive.LinkGraph

/** k-core decomposition by iterative peeling: repeatedly delete vertices
  * whose degree within the surviving subgraph is < k, to the fixpoint. The
  * reference has the ingredients (degree PSF + subgraph, `Graph.scala:267-
  * 424`) but no core operator; this is the standard Pregel-style peel.
  *
  * Superstep shape matches the other iterative algos: the cached symmetric
  * edge table is semi-joined against the surviving vertex set on BOTH
  * endpoints, degree is a partial-agg groupBy, and the one-column survivor
  * update is a left join — one exchange per superstep over the (shrinking)
  * edge survivor set, no vertex-state broadcast, no collect. Rounds are
  * O(peel depth) (≤ max degeneracy ordering length; in practice a handful —
  * each round removes the entire current shell).
  */
object KCore {

  final case class Result(vertices: DataFrame, iterations: Int)

  /** @param k core threshold, ≥ 1 (isolated vertices drop in round 1).
    * @return vertices of the k-core as (vid, core_degree), where core_degree
    *         is the degree inside the final core; iterations includes the
    *         final all-quiet confirmation round. */
  def run(edges: DataFrame, vertices: DataFrame, k: Long, maxIter: Int = 100): Result = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    val (sym, parts) = graft.core.IterCache.byKeyAdaptive(
      LinkGraph.symmetrize(
        edges.select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .where(col("src") =!= col("dst"))
          .distinct()),
      "src")

    def survivorDegrees(alive: DataFrame): DataFrame =
      sym
        .join(alive.select(col("vid").as("src")).hint("shuffle_hash"), Seq("src"), "left_semi")
        .join(alive.select(col("vid").as("dst")).hint("shuffle_hash"), Seq("dst"), "left_semi")
        .groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("deg"))

    val init = vertices.select(col("vid"), lit(true).as("alive"), lit(true).as("removed"))
    val res = graft.core.IterativeRunner.loop(init, maxIter,
      shuffleParts = Some(parts), counts = Seq("removed")) { state =>
      val deg = survivorDegrees(state.where(col("alive")))
      state.join(deg, Seq("vid"), "left").select(
        col("vid"),
        (col("alive") && coalesce(col("deg"), lit(0L)) >= k).as("alive"),
        (col("alive") && coalesce(col("deg"), lit(0L)) < k).as("removed"))
    }

    val core = survivorDegrees(res.state.where(col("alive")))
      .select(col("vid"), col("deg").as("core_degree"))
    // one action downstream materializes `core` before this unpersist hurts;
    // callers that defer should cache — same contract as the other algos
    val out = core.localCheckpoint(false)
    sym.unpersist(false)
    Result(out, res.iterations)
  }
}
