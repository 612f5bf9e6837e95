package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.IterativeRunner
import graft.derive.LinkGraph

/** Synchronous label propagation (Raghavan et al. 2007). The reference has no
  * LPA file at all (SURVEY.md header); the contract is the GraphX
  * `LabelPropagation` semantics: init label = vid, each superstep every vertex
  * adopts the most frequent label among its neighbors, tie broken by the
  * MINIMUM label so runs are exactly reproducible; vertices with no neighbors
  * keep their label. Fixed iteration count (LPA need not converge — it can
  * oscillate on bipartite structures, which a conv↔tool graph is full of).
  *
  * Skew: the label histogram is computed as a two-level aggregation —
  * groupBy(dst, label).count then argmax per dst — so a hub vertex's
  * million messages collapse map-side into (hub, label) partial counts; no
  * per-vertex map is ever materialized (the salting-equivalent layout called
  * out in SURVEY.md §7).
  */
object LabelPropagation {

  def run(edges: DataFrame, vertices: DataFrame, iterations: Int = 5): DataFrame = {
    val (sym, parts) = graft.core.IterCache.byKeyAdaptive(LinkGraph.symmetrize(edges), "src")
    val init = vertices.select(col("vid"), col("vid").as("lab"))
    val res = IterativeRunner.loop(init, iterations, shuffleParts = Some(parts)) { state =>
      val counts = sym
        .join(state.select(col("vid").as("src"), col("lab")).hint("shuffle_hash"), "src")
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, lab asc): max of struct(cnt, -lab).
      val best = counts
        .groupBy(col("dst").as("vid"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("neglab"))).as("top"))
        .select(col("vid"), (-col("top.neglab")).as("newlab"))
      state.join(best, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("newlab"), col("lab")).as("lab"))
    } // no counts: fixed iteration count, no early exit
    sym.unpersist(false)
    res.state.select(col("vid"), col("lab").as("label"))
  }
}
