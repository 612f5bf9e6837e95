package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SVD++ (Koren, KDD'08) collaborative filtering on a bipartite rating graph —
  * capability parity with the reference's `algo/svdpp/SVDPlusPlus.scala:11-203`
  * (vertex data `SVDPPVD(v1,v2,v3,v4)` = (factors, weighted factors/y, bias,
  * 1/√deg), global-mean init, per-iteration sumY phase + gradient phase, final
  * squared-error pass — the reference's own test asserts err/numEdges ≤ 8 on
  * a 16-rating dataset, `GraphTest.scala:172-188`).
  *
  * Spark-native re-expression: vertex state is a Dataset with Array[Double]
  * factor columns; the two reference phases are two join-aggregate passes per
  * iteration; element-wise array-sum aggregation is posexplode + two-level
  * groupBy (skew-safe, no per-vertex map); BLAS daxpy/ddot become
  * zip_with/aggregate column expressions. Factor init is hash-deterministic,
  * not `new Random()` — runs are exactly reproducible.
  */
object SVDPlusPlus {

  final case class Conf(
      rank: Int = 8,
      maxIters: Int = 5,
      minVal: Double = 0.0,
      maxVal: Double = 5.0,
      gamma1: Double = 0.007, // bias learning rate
      gamma2: Double = 0.007, // factor learning rate
      gamma6: Double = 0.005, // bias regularization
      gamma7: Double = 0.015) // factor regularization

  final case class Result(vertices: DataFrame, mean: Double, squaredErrorPerEdge: Double)

  /** Deterministic factor init in [0, 1): PORTABLE integer arithmetic
    * (squared-mix, same family as RandomWalks.mix / Similarity.planeComponent)
    * instead of xxhash64, so the DuckDB oracle replays the exact SGD float
    * sequence — this is what turns q_svdpp from rows-only into a full
    * hash-match check. Mirrors [[graft.Oracles.detRandSql]]. */
  private[graft] def detRand(vid: Column, i: Column, salt: Long): Column = {
    val t = pmod(vid * lit(2654435761L) + i.cast("long") * lit(40503L) +
      lit(salt * 97L + 11L), lit(1000003L))
    pmod(t * t * lit(31L) + t * lit(7L) + i.cast("long"), lit(2000003L))
      .cast("double") / lit(2000003.0)
  }

  private def detRandArray(vid: Column, rank: Int, salt: Long): Column =
    transform(sequence(lit(0), lit(rank - 1)), i => detRand(vid, i, salt))

  private def dotArr(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** [[dotArr]] unrolled to whole-stage-codegen scalar arithmetic — SAME
    * left-to-right association starting from 0.0 (bit-identical doubles),
    * but evaluated compiled instead of via the interpreted higher-order
    * `aggregate(zip_with(...))`, which costs ~µs/row on the 600k-row edge
    * pass (round 6). */
  private def dotFlat(a: Column, b: Column, rank: Int): Column =
    (0 until rank).foldLeft(lit(0.0))((acc, i) =>
      acc + element_at(a, i + 1) * element_at(b, i + 1))

  private def axpy(alpha: Column, x: Column, y: Column): Column =
    zip_with(x, y, (xi, yi) => alpha * xi + yi)

  /** Element-wise vector-sum aggregation of (vid, arr) rows → (vid, arr):
    * posexplode + ONE hash aggregate with `rank` conditional sums. The
    * explode evaluates the (interpreted zip_with) message expression exactly
    * once per row and is the optimizer barrier that stops CollapseProject
    * re-inlining it per dimension — a barrier-free
    * `sum(element_at(arr, i))` form was A/B-measured ~40% SLOWER for
    * exactly that reason, and the original two-level
    * groupBy(vid,pos)→groupBy(vid)+collect_list-sort shape pays a second
    * shuffle plus a per-vertex sort (×7 calls per run). One shuffle,
    * map-side combine absorbs hub skew. */
  private def sumArrays(msgs: DataFrame, rank: Int): DataFrame =
    msgs.select(col("vid"), posexplode(col("arr")).as(Seq("pos", "v")))
      .groupBy("vid")
      .agg(array((0 until rank).map(i =>
        sum(when(col("pos") === i, col("v")))): _*).as("arr"))

  /** @param ratings (src: user vid, dst: item vid, rating: double); user and
    *                item id spaces must be disjoint (bipartite).
    */
  def run(ratings: DataFrame, conf: Conf = Conf()): Result = {
    val spark = ratings.sparkSession
    val e = ratings.select(col("src"), col("dst"), col("rating").cast("double"))
      .persist()
    val u = e.agg(avg("rating")).head().getDouble(0)
    // Round 6: the SGD loop is the same superstep grammar as the Pregel
    // algos — scope its shuffle width to the DATA (the widest intermediate
    // is the 2-endpoint × rank gradient explode over the edge set) instead
    // of the session constant, and switch AQE off for the loop like
    // IterativeRunner (static right-sized plans; AQE's per-stage re-planning
    // of ~25 mini-queries only costs driver time). e.count() is free: the
    // mean aggregate above already materialized the persisted edge cache.
    val loopParts = graft.core.IterCache.adaptiveParts(spark,
      e.count() * 2L * conf.rank)
    graft.core.IterCache.loopConf(spark, Some(loopParts)) {

    // init: bias = mean incident rating - u, norm = 1/sqrt(deg)  (reference
    // Graph.updateVertexAttr init, SVDPlusPlus.scala:32-38)
    val incident = e.select(col("src").as("vid"), col("rating"))
      .union(e.select(col("dst").as("vid"), col("rating")))
      .groupBy("vid").agg(count(lit(1)).as("deg"), avg("rating").as("meanr"))
    var v = incident.select(
      col("vid"),
      detRandArray(col("vid"), conf.rank, salt = 1L).as("p"),
      detRandArray(col("vid"), conf.rank, salt = 2L).as("y"),
      (col("meanr") - u).as("bias"),
      (lit(1.0) / sqrt(col("deg"))).as("norm"))
      .localCheckpoint(false)
    // Round 6: the six edge⋈state joins below re-shuffled the WIDE edge
    // side (600k rows × three rank-arrays ≈ 180 MB) once per join per
    // iteration under the blanket shuffle_hash hint, while the vertex state
    // is rating-vertex-sized. Pick broadcast when the MEASURED state SIZE
    // is broadcast-safe, else keep shuffle_hash (never sort the edge side).
    // The cutover is in BYTES, not rows: a state row carries two or three
    // rank-length double arrays (~16·rank+64 B), so a row-count cutover à
    // la the (vid, key)-shaped dict joins would admit multi-hundred-MB
    // broadcasts rebuilt per join per iteration. 64 MB keeps the build
    // cheap at every rank. v is a leaf; the count doubles as its
    // materializing action. With broadcast the edge cache is probed in
    // place — zero edge shuffles per SGD iteration.
    val stateBytesEst = v.count() * (16L * conf.rank + 64L)
    val stateHint = if (stateBytesEst <= (64L << 20)) "broadcast" else "shuffle_hash"

    def predicted(pu2: Column, qi: Column, bu: Column, bi: Column): Column = {
      // codegen dot (same float sequence as dotArr — see dotFlat); evaluated
      // once per edge row behind the `t` persist barrier
      val raw = lit(u) + bu + bi + dotFlat(qi, pu2, conf.rank)
      least(greatest(raw, lit(conf.minVal)), lit(conf.maxVal))
    }

    for (_ <- 1 to conf.maxIters) {
      // Phase 1 (reference sumY, SVDPlusPlus.scala:116-149): each user's
      // implicit profile p2 = p + norm * Σ_{j∈N(u)} y_j
      val sumY = sumArrays(
        e.join(v.select(col("vid").as("dst"), col("y")).hint(stateHint), "dst")
          .select(col("src").as("vid"), col("y").as("arr")),
        conf.rank)
      val users = v.join(sumY, Seq("vid"), "left")
        .select(col("vid"), col("p"), col("y"), col("bias"), col("norm"),
          when(col("arr").isNull, col("p"))
            .otherwise(axpy(col("norm"), col("arr"), col("p"))).as("p2"))

      // Phase 2 (reference trainF + reduceByKey + outerJoinVertices,
      // SVDPlusPlus.scala:40-86,153-171): per-edge gradients, merged per vertex
      val t = e
        .join(users.select(col("vid").as("src"), col("p").as("pu"), col("p2"),
          col("bias").as("bu"), col("norm").as("nu")).hint(stateHint), "src")
        .join(v.select(col("vid").as("dst"), col("p").as("qi"), col("y").as("yi"),
          col("bias").as("bi")).hint(stateHint), "dst")
        .withColumn("err", col("rating") - predicted(col("p2"), col("qi"), col("bu"), col("bi")))
        .persist()

      val g2 = lit(conf.gamma2)
      // ONE message row per (edge, endpoint, dimension): explode the rank
      // index FIRST and compute every gradient as SCALAR codegen arithmetic
      // on the exploded row (round 6) — the previous form built dp/dy as
      // interpreted zip_with ARRAYS per edge row and then exploded them,
      // paying the interpreted-HOF tax (~µs per element) on 2·|E|·rank
      // elements per iteration. Expression trees per element are IDENTICAL
      // (g2·(err·q − γ7·p) etc., same association), so the SGD float
      // sequence — and the q_svdpp oracle hash — is unchanged. dy stays
      // item-side-only (null for users: the per-vid count(dyv)=0 below
      // preserves the "no y update for users" contract), db is counted once
      // per (edge, endpoint) via the pos=0 row.
      val userRows = t
        .select(col("src").as("vid"), col("err"), col("bu").as("bb"), col("pu"), col("qi"))
        .select(col("vid"), col("err"), col("bb"), col("pu"),
          posexplode(col("qi")).as(Seq("pos", "qv")))
        .select(col("vid"), col("pos"),
          (g2 * (col("err") * col("qv")
            - lit(conf.gamma7) * element_at(col("pu"), col("pos") + 1))).as("dpv"),
          when(col("pos") === 0,
            lit(conf.gamma1) * (col("err") - lit(conf.gamma6) * col("bb"))).as("db0"),
          lit(null).cast("double").as("dyv"))
      val itemRows = t
        .select(col("dst").as("vid"), col("err"), col("bi").as("bb"), col("nu"),
          col("p2"), col("yi"), col("qi"))
        .select(col("vid"), col("err"), col("bb"), col("nu"), col("p2"), col("yi"),
          posexplode(col("qi")).as(Seq("pos", "qv")))
        .select(col("vid"), col("pos"),
          (g2 * (col("err") * element_at(col("p2"), col("pos") + 1)
            - lit(conf.gamma7) * col("qv"))).as("dpv"),
          when(col("pos") === 0,
            lit(conf.gamma1) * (col("err") - lit(conf.gamma6) * col("bb"))).as("db0"),
          (g2 * (col("err") * col("nu") * col("qv")
            - lit(conf.gamma7) * element_at(col("yi"), col("pos") + 1))).as("dyv"))
      val exploded = userRows.unionByName(itemRows)
      val grads = exploded.groupBy("vid").agg(
        array((0 until conf.rank).map(i => sum(when(col("pos") === i, col("dpv")))): _*).as("dp"),
        sum(col("db0")).as("db"),
        when(count(col("dyv")) === 0, lit(null).cast("array<double>"))
          .otherwise(array((0 until conf.rank).map(i =>
            sum(when(col("pos") === i, col("dyv")))): _*)).as("dy"))

      v = v.join(grads, Seq("vid"), "left")
        .select(
          col("vid"),
          when(col("dp").isNull, col("p"))
            .otherwise(zip_with(col("p"), col("dp"), (a, b) => a + b)).as("p"),
          when(col("dy").isNull, col("y"))
            .otherwise(zip_with(col("y"), col("dy"), (a, b) => a + b)).as("y"),
          (col("bias") + coalesce(col("db"), lit(0.0))).as("bias"),
          col("norm"))
        .localCheckpoint(false)
      t.unpersist(false)
    }

    // final error pass (reference testF, SVDPlusPlus.scala:89-112,175-180)
    val sumY = sumArrays(
      e.join(v.select(col("vid").as("dst"), col("y")).hint(stateHint), "dst")
        .select(col("src").as("vid"), col("y").as("arr")), conf.rank)
    val users = v.join(sumY, Seq("vid"), "left")
      .select(col("vid"),
        when(col("arr").isNull, col("p"))
          .otherwise(axpy(col("norm"), col("arr"), col("p"))).as("p2"),
        col("bias"))
    val sqErr = e
      .join(users.select(col("vid").as("src"), col("p2"), col("bias").as("bu")).hint(stateHint), "src")
      .join(v.select(col("vid").as("dst"), col("p").as("qi"), col("bias").as("bi")).hint(stateHint), "dst")
      .select(pow(col("rating") - predicted(col("p2"), col("qi"), col("bu"), col("bi")), 2).as("se"))
      .agg(sum("se")).head().getDouble(0)
    val n = e.count()
    e.unpersist(false)
    Result(v, u, sqErr / n)
    }
  }
}
