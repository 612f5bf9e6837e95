package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextStats

/** Document deduplication operators for a large-scale training-data pipeline:
  * exact (hash-group), n-gram Jaccard (shingle join), MinHash+LSH (the scale
  * path: signatures → bands → bucket join → verify) and SimHash (bit
  * signature + banded Hamming search). All shuffle keys are content hashes —
  * uniformly distributed by construction, so no skew handling is needed
  * beyond Spark's partial aggregation.
  */
object Dedup {

  /** Exact dedup: canonical id = min doc_id among byte-identical texts. */
  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val groups = hashed.groupBy("h")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("group_size"))
    hashed.join(groups, "h")
      .select(col("doc_id"), col("canonical_id"), col("group_size"))
  }

  /** Word n-gram shingles, distinct per doc. Guarded sequence: Spark's
    * sequence(1, n-2) DESCENDS when n < 3 (unlike SQL generate_series). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"), TextStats.tokens.as("t"))
    val grams = when(size(col("t")) >= n,
      transform(sequence(lit(1), size(col("t")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(col("t"), i + j)): _*)))
      .otherwise(array())
    toks.select(col("doc_id"), explode(grams).as("shingle")).distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard >= minJaccard).
    * |A∩B| via shingle equi-join with partial agg; |A∪B| = |A|+|B|-|A∩B|.
    *
    * `maxShingleDf` is the hot-shingle guard: the standalone shingle
    * self-join goes QUADRATIC on any shingle shared by many documents (a
    * df-10⁶ boilerplate shingle alone yields ~5·10¹¹ join rows). With
    * Some(τ), shingles with document frequency > τ are dropped from
    * CANDIDATE GENERATION only — surviving candidate pairs are still
    * verified with the exact Jaccard over ALL their shingles, so reported
    * scores are exact; what's traded away is recall of pairs whose ONLY
    * common shingles are ubiquitous ones (which necessarily have low
    * Jaccard against any doc with > τ·(shared shingles) total shingles —
    * the standard df-cap argument). Default None = exact single-pass
    * semantics (oracle parity). */
  def ngramJaccard(
      docs: DataFrame,
      n: Int = 3,
      minJaccard: Double = 0.5,
      maxShingleDf: Option[Long] = None): DataFrame = {
    // lazy leaf: sh is referenced 3-4× (sizes, both join sides, df filter);
    // without it each reference re-runs tokenize + explode + distinct
    val sh = shingles(docs, n).localCheckpoint(false)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = maxShingleDf match {
      case None =>
        // The exact self-join emits Σ_s df(s)·(df(s)−1)/2 rows — orders of
        // magnitude more than its INPUT bytes, so AQE (which sizes
        // post-shuffle partitions from shuffle bytes) coalesces the whole
        // join+partial-agg into ONE task (measured 13 s single-threaded on
        // the sf0.1 trajectory corpus, round 6). The output size is exactly
        // computable from the df histogram for the cost of one tiny
        // aggregate, so partition the join side explicitly from it
        // (guide §1 first-principles + §2.5): work-based, scale-adaptive,
        // and an explicit repartition AQE will not coalesce away. Both join
        // sides are the same exchange (ReusedExchange), and the pair
        // partial-agg now runs in the parallel join stage.
        val pairRows = graft.core.IterCache.selfJoinOutputRows(
          sh, Seq("shingle"), ordered = true)
        val parts = graft.core.IterCache.adaptiveParts(sh.sparkSession, pairRows)
        val a = sh.repartition(parts, col("shingle"))
        a.as("a")
          .join(a.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
      case Some(tau) =>
        // candidate-join output is Σ_{df(s)≤τ} df·(df−1)/2 — exactly
        // computable from the df histogram; partition for it (same AQE
        // byte-blindness fix as the exact branch)
        val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") <= tau)
          .localCheckpoint(false) // referenced by sizing + semi-join
        val candRows = dfs.agg(coalesce(sum(col("df") * (col("df") - 1L)), lit(0L)))
          .head().getLong(0) / 2L
        val rare = sh.join(dfs.select("shingle"), Seq("shingle"), "left_semi")
          .repartition(graft.core.IterCache.adaptiveParts(sh.sparkSession, candRows),
            col("shingle"))
        val candidates = rare.as("a")
          .join(rare.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        // exact |A∩B| verify over ALL shingles, candidates only
        exactInter(candidates, sh, sizes)
    }
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** MinHash signatures: numHashes universal-hash "permutations"
    * (a_i·fp + b_i mod P over a portable md5-derived shingle fingerprint —
    * the textbook scheme, oracle-recomputable); signature position i = min
    * over shingles of hash_i(shingle). ONE aggregate with numHashes min
    * columns — no per-hash row explosion (the previous posexplode form
    * shuffled 64× the shingle count). */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 64): DataFrame =
    // leaf: signaturesFromShingles sizes (count) and widens its input —
    // without a leaf the tokenize+explode+distinct pipeline would run
    // 2-3× on this standalone path (round-6 review finding)
    signaturesFromShingles(shingles(docs, n).localCheckpoint(false), numHashes)

  private def signaturesFromShingles(
      sh: DataFrame, numHashes: Int, knownShRows: Option[Long] = None): DataFrame = {
    import graft.functions.PortableHash
    // Work-sized parallelism raise for the signature aggregate (round 6):
    // the md5-nibble fingerprint + numHashes universal-hash min columns
    // cost ~numHashes expression evaluations per (doc, shingle) row, but
    // the shingle leaf is typically 1-2 partitions locally (AQE coalesced
    // it by bytes), so the 64-min aggregate ran near-single-task.
    // widenIfNarrow raises parallelism to rows × numHashes work units only
    // when the leaf under-splits — at scale the leaf is already parallel
    // and the map-side partial aggregate stays (no added shuffle).
    // `knownShRows` lets minhashLsh share ONE count of the leaf.
    val shRows = knownShRows.getOrElse(sh.count())
    val fps = graft.core.IterCache.widenIfNarrow(sh, shRows * numHashes, "doc_id")
      .select(col("doc_id"), PortableHash.md5PackMod(col("shingle")).as("fp"))
    val aggs = (0 until numHashes).map(i =>
      min(PortableHash.universal(i, col("fp"))).as(s"mh$i"))
    fps.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** Exact-Jaccard intersection counts for a verified-candidate pair list:
    * candidates ⋈ shingles(doc_a) ⋈ shingles(doc_b) on the shared shingle,
    * counted per pair. The candidate leaf is counted and the verify join
    * explicitly partitioned by its EXACT output size (Σ_cand |sh(doc_a)|,
    * one cheap candidates⋈sizes aggregate) — the same AQE byte-blindness
    * fix as the exact pair join: the verify join's output is row-multiplying
    * while its inputs are KB-scale, so AQE alone runs it in 1-2 tasks
    * (round 6). Shared by [[minhashLsh]] and the df-capped [[ngramJaccard]].
    */
  private def exactInter(
      candidates0: DataFrame,
      sh: DataFrame,
      sizes: DataFrame,
      interRowsEst: Option[Long] = None): DataFrame = {
    // With a caller-supplied estimate (already derivable from its bucket
    // histogram + shingle count) this costs ZERO extra actions — a lazy
    // repartition only; the exact-count path (leaf + one candidates⋈sizes
    // aggregate) remains for callers without one. The estimate-free path
    // measured +0.9 s of pure sizing overhead on a corpus whose candidate
    // set is 25 pairs (round 6).
    val (candidates, interRows) = interRowsEst match {
      case Some(est) => (candidates0, est)
      case None =>
        val leaf = candidates0.localCheckpoint(false)
        val n = leaf
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh")), "doc_a")
          .agg(coalesce(sum(col("n_sh")), lit(0L))).head().getLong(0)
        (leaf, n)
    }
    val cparts = graft.core.IterCache.adaptiveParts(sh.sparkSession, interRows)
    val cand = if (cparts <= 1) candidates else candidates.repartition(cparts, col("doc_a"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle").as("s2")), "doc_b")
      .where(col("shingle") === col("s2"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
  }

  /** Band hash over signature positions [b·rows, (b+1)·rows): polynomial fold
    * mod P — portable, same arithmetic in the oracle. */
  private def bandHash(b: Int, rows: Int): Column =
    (0 until rows).foldLeft(lit(0L)) { (acc, r) =>
      pmod(acc * lit(1009L) + element_at(col("sig"), b * rows + r + 1),
        lit(graft.functions.PortableHash.P))
    }

  /** MinHash+LSH near-dup candidates, verified with exact Jaccard.
    * bands × rowsPerBand must equal numHashes. Candidate generation is a
    * group-by on (band id, band hash) — docs agreeing on any band collide;
    * the verify step computes true shingle Jaccard only for candidates.
    */
  def minhashLsh(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    // ONE shingle table (lazy leaf) feeds both the signature build and the
    // exact-Jaccard verify; banded is a leaf too because the candidate
    // self-join references it twice (each side would re-run the 64-min
    // aggregate)
    val sh = shingles(docs, n).localCheckpoint(false)
    val shRows = sh.count() // ONE sizing count of the leaf, shared below
    val sig = signaturesFromShingles(sh, numHashes, Some(shRows))
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map(b => bandHash(b, rows)): _*))
        .as(Seq("band", "bh")))
      .localCheckpoint(false)
    // Same AQE blind spot as the exact shingle join above: bucket-collision
    // output is Σ_{(band,bh)} c·(c−1)/2 rows — template-heavy corpora put
    // hundreds of near-identical docs in one bucket, and AQE (sizing by the
    // KB-scale banded table) runs the whole candidate join in 1-2 tasks.
    // ONE tiny histogram aggregate over the leaf gives the exact candidate
    // row count AND the doc count; everything downstream (the bucket join
    // partitioning AND the verify-join partitioning via the candRows ×
    // avg-shingles estimate) is sized from it with zero further actions.
    val hist = banded.groupBy("band", "bh").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1L)), lit(0L)).as("p2"),
        coalesce(sum(col("c")), lit(0L)).as("rows")).head()
    val candRows = hist.getLong(0) / 2L
    val nDocs = math.max(1L, hist.getLong(1) / bands)
    val bparts = graft.core.IterCache.adaptiveParts(docs.sparkSession, candRows)
    val bd = banded.repartition(bparts, col("band"), col("bh"))
    val candidates = bd.as("a")
      .join(bd.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify candidates with exact Jaccard (join back to shingles)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // candRows counts a pair once PER colliding band (up to bands×); cap by
    // the distinct-pair bound so the verify join is not over-partitioned on
    // corpora where near-identical docs collide in most bands (round-6
    // review finding)
    val distinctCap =
      if (nDocs < Int.MaxValue.toLong) nDocs * (nDocs - 1L) / 2L else Long.MaxValue
    val inter = exactInter(candidates, sh, sizes,
      interRowsEst = Some(math.min(candRows, distinctCap) * (shRows / nDocs + 1L)))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** End-to-end near-dup clustering — the production dedup flow composed
    * from the engine's own pieces: MinHash-LSH candidates → exact-Jaccard
    * verify ([[minhashLsh]]) → undirected pair graph → `rounds` synchronous
    * min-canonical propagation steps → (doc_id, canonical_id). Every doc
    * appears (singletons map to themselves); near-dup pairs share the
    * cluster-minimum doc_id.
    *
    * The FIXED round count is what keeps the whole flow bit-replayable in
    * the DuckDB oracle (convergence-driven CC would need a data-dependent
    * oracle — the graph CC operators remain the general tool). One round
    * advances each vertex's minimum one hop, so `rounds` bounds the covered
    * component diameter; near-dup components are chain-like and tiny, and 8
    * is generous — but NOT unbounded, so the flow carries its own guard: one
    * extra probe round counts docs whose canonical would still change
    * (`unconverged` in [[propagateCanonical]]); a non-zero count is reported
    * loudly instead of silently shipping a split clustering, and
    * `escalateUnconverged = true` keeps propagating to fixpoint (correct
    * result, oracle-replayable only when the guard never fired). Scale shape
    * per round: one edge⋈state shuffle-hash join + one partial-agg min — the
    * PageRank superstep shape over a pair graph that is orders of magnitude
    * smaller than the corpus. */
  def clusters(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      rounds: Int = 8,
      escalateUnconverged: Boolean = false): DataFrame = {
    // leaf: both union branches reference pairs — without it each branch
    // re-runs the whole LSH candidate + exact-verify subplan
    val pairs = minhashLsh(docs, n, numHashes, bands, minJaccard).localCheckpoint(false)
    propagateCanonical(pairs, docs, rounds, escalateUnconverged)._1
  }

  /** Min-canonical propagation over an explicit verified pair list — the
    * clustering tail of [[clusters]], separated so the diameter guard is
    * testable on a planted pair graph. Returns (assignment, unconverged):
    * `unconverged` is the number of docs whose canonical id would STILL
    * change given one more round — 0 iff `rounds` covered every component's
    * diameter. Non-zero means the clustering is NOT transitively closed
    * (split canonical ids); it is printed to stderr, and with `escalate`
    * propagation continues in `rounds`-sized chunks until the fixpoint
    * (each chunk re-probes — convergence-driven, so no longer replayable by
    * a fixed-round oracle; the default flow keeps fixed rounds + guard). */
  def propagateCanonical(
      pairs: DataFrame,
      docs: DataFrame,
      rounds: Int = 8,
      escalate: Boolean = false): (DataFrame, Long) = {
    val spark = pairs.sparkSession
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(false) // referenced every round
    // Scope the propagation rounds like IterativeRunner.loop does (round 6):
    // shuffle partitions derived from the pair-graph size (the sym count
    // materializes the leaf, which the first round needs anyway) and AQE off
    // — with right-sized static partitions its per-stage re-planning only
    // adds driver overhead to the ~9 mini-queries of the round chain.
    val loopParts = graft.core.IterCache.adaptiveParts(spark, sym.count())
    graft.core.IterCache.loopConf(spark, Some(loopParts)) {
    var state = sym.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("canonical"))
      .localCheckpoint(false)
    def msgs(st: DataFrame): DataFrame = sym
      .join(st.select(col("doc_id").as("src"), col("canonical").as("c"))
        .hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("doc_id")).agg(min(col("c")).as("mc"))
    def oneRound(st: DataFrame): DataFrame =
      st.join(msgs(st).hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("canonical"), coalesce(col("mc"), col("canonical"))).as("canonical"))
        .localCheckpoint(false) // plan truncation per round
    // probe: docs whose canonical would still drop given one more round —
    // one cheap action over the (tiny) pair-involved state
    def probe(st: DataFrame): Long =
      st.join(msgs(st).hint("shuffle_hash"), Seq("doc_id"), "left")
        .where(col("mc") < col("canonical")).count()
    for (_ <- 1 to rounds) state = oneRound(state)
    // the guard count: what the FIXED round budget left uncovered
    val unconverged = probe(state)
    if (unconverged > 0) {
      System.err.println(s"[dedup.clusters] WARNING: $unconverged docs unconverged " +
        s"after $rounds rounds (pair-graph component diameter exceeds rounds); " +
        (if (escalate) "escalating to fixpoint" else "canonical ids are SPLIT"))
      var remaining = unconverged
      while (escalate && remaining > 0) {
        for (_ <- 1 to rounds) state = oneRound(state)
        remaining = probe(state)
      }
    }
    // `out` is corpus-sized but PLANNED at the caller's action, after the
    // scope restored the session settings — so it does not inherit
    // the loop's tiny partition count
    val out = docs.select(col("doc_id")).join(state.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("canonical"), col("doc_id")).as("canonical_id"))
    (out, unconverged)
    }
  }

  /** 60-bit SimHash signature per doc, token-weighted (each occurrence votes
    * ±1 per bit). The token hash is the portable 60-bit md5-nibble pack, so
    * the DuckDB oracle recomputes signatures exactly. ONE aggregate with 60
    * conditional-sum vote columns — no per-bit row explosion (the previous
    * posexplode form shuffled 63× the (doc,token) count). */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    import graft.functions.PortableHash
    // leaf + sizing count: the md5-nibble hash (15 substring/ascii terms)
    // and the 60 conditional vote sums cost ~75 expression evaluations per
    // (doc, token) row — AQE, sizing by the small shuffled bytes, coalesced
    // the whole vote aggregate into ONE task (measured 3.2 s single-threaded
    // at sf0.1, round 6). Partition by the WORK (rows × 60 vote columns),
    // not the bytes, via an explicit doc_id repartition the final aggregate
    // reuses (no extra exchange: doc_id partitioning satisfies the groupBy).
    val toks = docs.select(col("doc_id"), explode(TextStats.tokens).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val voted = graft.core.IterCache.widenIfNarrow(toks, toks.count() * 60L, "doc_id")
      .withColumn("h", PortableHash.md5Pack60(col("tok")))
    val votes = (0 until 60).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"v$j"))
    voted.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: banded Hamming-distance search (4 bands of 15
    * bits; pairs agreeing on ≥1 band are candidates → exact popcount filter).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = simhashSignatures(docs)
    // leaf: the candidate self-join references banded twice — each side
    // would re-run the 60-vote signature aggregate
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7fffL)): _*)).as(Seq("band", "bh")))
      .localCheckpoint(false)
    // bucket-histogram join sizing, same rationale as minhashLsh (round 6)
    val candRows = graft.core.IterCache.selfJoinOutputRows(
      banded, Seq("band", "bh"), ordered = true)
    val bd = banded.repartition(
      graft.core.IterCache.adaptiveParts(docs.sparkSession, candRows), col("band"), col("bh"))
    bd.as("a")
      .join(bd.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
