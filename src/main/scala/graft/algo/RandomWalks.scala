package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.derive.LinkGraph

/** Random-walk generators (DeepWalk / Node2Vec / MetaPath2Vec — the
  * reference's walker stack, `graph-algo/.../algo/walker/`). The reference
  * grows PS-resident paths tail-by-tail with pull/sample/push RPC chatter
  * (`DeepWalk.scala:140-187`); here a walk table self-extends by one join per
  * step against a POSITIONAL neighbor index — (src, idx, dst) rows with idx =
  * rank of dst among src's sorted neighbors — so a step is
  * draw = hash(walk,step) mod deg(cur), then an equi-join on (cur, draw).
  *
  * Hub safety: no per-vertex neighbor arrays anywhere. A 10^7-degree tool hub
  * (the Zipf head SyntheticTranscripts plants) is 10^7 ordinary index rows
  * spread across partitions, not one multi-hundred-MB `collect_list` row; the
  * only per-vertex sequential structure is the window sort that assigns idx,
  * which external-sorts (spills) rather than materializing the neighbor set
  * in memory. Walk state carries deg(cur) so the draw needs no extra join.
  *
  * Sampling is deterministic: the step draw is a hash of (walk id, step,
  * seed), so walks are reproducible across runs and partitionings (the
  * reference's global `new Random()`, `package.scala:11`, is not).
  */
object RandomWalks {

  /** Positional neighbor index over the symmetrized edge set:
    * (src, idx, dst, dst_deg) with idx 0-based in dst order, plus dst's own
    * degree so the NEXT step's modulus travels with the walk. */
  private[graft] def neighborIndex(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("dst")).agg(count(lit(1)).as("dst_deg"))
    sym
      .withColumn("idx", row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
      .join(deg, "dst")
      .select(col("src"), col("idx"), col("dst"), col("dst_deg"))
  }

  /** (vid, deg) over the symmetrized edge set (walk start states). */
  private[graft] def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))

  /** Portable per-(walk, step, salt) pseudo-uniform in [0, 2000003): pure
    * integer arithmetic (squared mixing like Similarity.planeComponent), so
    * the DuckDB oracle replays the exact same walks — q_deepwalk is a full
    * hash-match check, not rows-only. Mirrors [[graft.Oracles.mixSql]]. */
  private[graft] def mix(walkId: Column, step: Int, salt: Long): Column = {
    val c = step.toLong * 40503L + salt * 97L + 7L
    val t = pmod(pmod(walkId, lit(1000003L)) * lit(2654435761L) + lit(c), lit(1000003L))
    pmod(t * t * lit(31L) + t * lit(7L) + pmod(walkId, lit(2000003L)), lit(2000003L))
  }

  /** Wide (~42-bit) portable draw value in [0, 2000003²): two independently
    * salted [[mix]] values combined base-2000003. A single mix() is bounded
    * by 2000003, so `mix mod deg` could never reach neighbor indices ≥
    * 2000003 and carried ~2× modulo bias already near degree 10⁶ — the wide
    * value keeps the draw correct for hub degrees up to ~10⁹ with modulo
    * bias ≤ deg/4·10¹² (≈2.5e-4 at deg=10⁹). Mirrors
    * [[graft.Oracles.wideMixSql]] exactly (the salt offset 777777 is part of
    * the portable contract). */
  private[graft] def wideMix(walkId: Column, step: Int, salt: Long): Column =
    mix(walkId, step, salt) * lit(2000003L) + mix(walkId, step, salt + 777777L)

  private[graft] def draw(walkId: Column, step: Int, deg: Column, seed: Long, salt: Long = 0L): Column =
    pmod(wideMix(walkId, step, seed + salt), deg).cast("int")

  /** DeepWalk: `walksPerVertex` uniform walks of length `pathLength` from
    * every vertex. Output: (walk_id, start, path: Array[Long]).
    * (`algo/walker/deepwalk/DeepWalk.scala:17-199`; defaults pathLength=10,
    * `WalkerBase.scala:19-21`.) */
  def deepWalk(
      edges: DataFrame,
      walksPerVertex: Int = 1,
      pathLength: Int = 10,
      seed: Long = 42L): DataFrame = {
    val idx = neighborIndex(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    // round 6: one count materializes the index cache (the first step would
    // anyway) and sizes the step-loop conf; start degrees are derived FROM
    // the cached index (identical rows: count of sym edges per src) instead
    // of re-deriving the upstream edge table a second time
    val nIdx = idx.count()
    graft.core.IterCache.loopConf(spark,
      Some(graft.core.IterCache.adaptiveParts(spark, nIdx))) {
      val starts = idx.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
        .crossJoin(spark.range(walksPerVertex).select(col("id").as("rep")))
        .select(
          (col("vid") * walksPerVertex + col("rep")).as("walk_id"),
          col("vid").as("cur"), col("deg").as("cur_deg"),
          array(col("vid")).as("path"))
      var walks = starts.localCheckpoint(false)
      for (step <- 1 until pathLength) {
        val pick = draw(col("walk_id"), step, col("cur_deg"), seed)
        val drawn = walks
          .join(idx, walks("cur") === idx("src") && pick === idx("idx"))
          .select(col("walk_id"), col("dst").as("cur"), col("dst_deg").as("cur_deg"),
            concat(col("path"), array(col("dst"))).as("path"))
        walks = drawn.localCheckpoint(false)
      }
      walks.count() // materialize the lazy checkpoint chain while idx is cached
      idx.unpersist(false)
      walks.select(col("walk_id"), element_at(col("path"), 1).as("start"), col("path"))
    }
  }

  /** Node2Vec p/q-biased second-order walk via bounded rejection sampling
    * (the reference's scheme, `Node2Vec.scala:199-240`, acceptance by
    * d(prev,x) ∈ {0,1,2}): candidates are drawn uniformly; candidate x from
    * cur with previous vertex prev is accepted with probability
    * (1/p)/top if x = prev, 1/top if x ∈ N(prev), (1/q)/top otherwise, where
    * top = max(1, 1/p, 1/q) — the reference's normalizer
    * (`Node2Vec.scala:216-236`, `randValue <= 1.0/{1,p,q}/top`). Without it,
    * any raw probability > 1 clamps and the relative class biases collapse
    * (e.g. q=0.8 lost the out-jump bias entirely). `attempts` bounded draws
    * per step, last draw force-accepted. Per step: one explode to `attempts`
    * candidate rows, one positional-index join, one edge-set membership
    * join, one min_by collapse — all hub-safe (no neighbor arrays). */
  def node2vec(
      edges: DataFrame,
      p: Double = 1.0,
      q: Double = 0.8,
      walksPerVertex: Int = 1,
      pathLength: Int = 10,
      attempts: Int = 4,
      seed: Long = 42L): DataFrame = {
    val top = math.max(1.0, math.max(1.0 / p, 1.0 / q))
    val idx = neighborIndex(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    // round 6: the membership set and the start degrees are PROJECTIONS of
    // the cached index (same symmetrized rows) — the old code re-derived the
    // upstream edge table twice more and paid a second cache build; the one
    // count sizes the step-loop conf and materializes the index
    val nIdx = idx.count()
    val nbrSet = idx
      .select(col("src").as("m_src"), col("dst").as("m_dst"), lit(true).as("in_nbr"))
    graft.core.IterCache.loopConf(spark,
      Some(graft.core.IterCache.adaptiveParts(spark, nIdx))) {
    // step 1: uniform first hop
    val starts = idx.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
      .crossJoin(spark.range(walksPerVertex).select(col("id").as("rep")))
      .select((col("vid") * walksPerVertex + col("rep")).as("walk_id"),
        col("vid").as("cur"), col("deg").as("cur_deg"), array(col("vid")).as("path"))
    var walks = starts
      .join(idx, col("cur") === idx("src") && draw(col("walk_id"), 1, col("cur_deg"), seed) === idx("idx"))
      .select(col("walk_id"), col("cur").as("prev"), col("dst").as("cur"),
        col("dst_deg").as("cur_deg"), concat(col("path"), array(col("dst"))).as("path"))
      .localCheckpoint(false)
    for (step <- 2 until pathLength) {
      // one row per bounded rejection attempt; all attempts resolve in a
      // single index join + membership join, then collapse to the first
      // accepted candidate (the last attempt is force-accepted)
      val cands = walks
        .select(col("walk_id"), col("prev"), col("cur"), col("cur_deg"), col("path"),
          explode(sequence(lit(0), lit(attempts - 1))).as("t"))
        .withColumn("pick", element_at(
          array((0 until attempts)
            .map(a => draw(col("walk_id"), step, col("cur_deg"), seed, a * 1009L)): _*),
          col("t") + 1))
        .join(idx, col("cur") === idx("src") && col("pick") === idx("idx"))
        .select(col("walk_id"), col("prev"), col("cur"), col("path"), col("t"),
          col("dst").as("cand"), col("dst_deg").as("cand_deg"))
        .join(nbrSet, col("prev") === col("m_src") && col("cand") === col("m_dst"), "left")
      val u = element_at(
        array((0 until attempts)
          .map(a => mix(col("walk_id"), step, seed + a * 1009L + 501L).cast("double") / lit(2000003.0)): _*),
        col("t") + 1)
      val acceptProb = when(col("cand") === col("prev"), lit(1.0 / p / top))
        .when(coalesce(col("in_nbr"), lit(false)), lit(1.0 / top))
        .otherwise(lit(1.0 / q / top))
      val accepted = (col("t") === (attempts - 1)) || (u < acceptProb)
      walks = cands
        .select(col("walk_id"),
          struct(when(accepted, col("t")).otherwise(lit(Int.MaxValue)).as("prio"),
            col("cur"), col("cand"), col("cand_deg"), col("path")).as("s"))
        .groupBy("walk_id")
        .agg(min(col("s")).as("s"))
        .select(col("walk_id"), col("s.cur").as("prev"), col("s.cand").as("cur"),
          col("s.cand_deg").as("cur_deg"),
          concat(col("s.path"), array(col("s.cand"))).as("path"))
        .localCheckpoint(false)
    }
    walks.count() // materialize the lazy checkpoint chain while caches live
    idx.unpersist(false)
    walks.select(col("walk_id"), element_at(col("path"), 1).as("start"), col("path"))
    }
  }

  /** MetaPath2Vec: type-constrained walk (`MetaPath2Vec.scala:151-171`): at
    * step s only neighbors whose kind equals metaPath(s % len) are eligible;
    * walks with no eligible neighbor stop (path keeps its length so far).
    * Positional index is per (src, kind); the per-step eligible degree is a
    * kind-filtered join (kinds are few, the index is partition-pruned by the
    * kind filter before the join). */
  def metaPath2Vec(
      edges: DataFrame,
      vertices: DataFrame,
      metaPath: Seq[String],
      pathLength: Int = 10,
      seed: Long = 42L): DataFrame = {
    val kinds = vertices.select(col("vid").as("dst"), col("kind"))
    val symK = LinkGraph.symmetrize(edges).join(kinds, "dst")
    val idx = symK
      .withColumn("idx",
        row_number().over(Window.partitionBy("src", "kind").orderBy("dst")) - 1)
      .select(col("src"), col("kind"), col("idx"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 6: one count materializes the index cache and sizes the
    // step-loop conf; the per-(src, kind) degrees come from the cached
    // index (identical rows) instead of a second symK pass + second cache
    val nIdx = idx.count()
    // leaf: every walk step probes degK — without it the per-(src, kind)
    // aggregate over the FULL cached index would re-run once per step
    // (round-6 review finding; the leaf materializes it once)
    val degK = idx.groupBy("src", "kind").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    graft.core.IterCache.loopConf(edges.sparkSession,
      Some(graft.core.IterCache.adaptiveParts(edges.sparkSession, nIdx))) {
    val starts = vertices.where(col("kind") === metaPath.head)
      .select(col("vid").as("walk_id"), col("vid").as("cur"), array(col("vid")).as("path"),
        lit(false).as("stopped"))
    var walks = starts.localCheckpoint(false)
    for (step <- 1 until pathLength) {
      val wantKind = metaPath(step % metaPath.length)
      val dK = degK.where(col("kind") === wantKind).select(col("src").as("d_src"), col("deg"))
      val iK = idx.where(col("kind") === wantKind)
        .select(col("src").as("i_src"), col("idx"), col("dst"))
      val withDeg = walks.join(dK, walks("cur") === col("d_src"), "left")
      val pick = draw(col("walk_id"), step, col("deg"), seed)
      val drawn = withDeg
        .join(iK, col("cur") === col("i_src") && pick === col("idx"), "left")
        .select(
          col("walk_id"),
          when(col("stopped") || col("deg").isNull, col("cur")).otherwise(col("dst")).as("cur"),
          when(col("stopped") || col("deg").isNull, col("path"))
            .otherwise(concat(col("path"), array(col("dst")))).as("path"),
          (col("stopped") || col("deg").isNull).as("stopped"))
      walks = drawn.localCheckpoint(false)
    }
    walks.count() // materialize the lazy checkpoint chain while caches live
    idx.unpersist(false)
    walks.select(col("walk_id"), element_at(col("path"), 1).as("start"), col("path"))
    }
  }
}
