package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Iteration-side cache for the big (edge-shaped) operand of a superstep
  * loop. Three deliberate choices, each measured in PerfLab:
  *
  *  1. `localCheckpoint(DISK_ONLY)` first: truncates the (possibly huge)
  *     derivation lineage to a leaf. The CacheManager canonicalizes every
  *     query's plan against each cache entry's plan — with a large plan under
  *     the cache this is a serial driver cost paid once per iteration, and it
  *     dominated the loop before truncation. DISK_ONLY keeps the row-format
  *     checkpoint off the heap (it is read exactly once).
  *  2. `repartition(key)`: the loop's equi-join key; every superstep reuses
  *     this exchange so only the vertex-sized side shuffles per iteration.
  *  3. Dataset `persist()` on top: columnar compressed batches (~10× less
  *     heap than row caching; GC was the scaling bottleneck at 10M+ rows).
  */
object IterCache {

  /** Rows-per-partition target for [[adaptiveParts]]. 430k reproduces every
    * partition-count optimum measured in BASELINE.md: the 13.7M-sym-edge
    * headline graph lands on exactly 32 partitions at local[32] (the measured
    * optimum — 128 parts were 2× WORSE there, §f), the 337M-edge ScalingBench
    * graph lands on the 8-tasks-per-core 256 (the §d +16% lever), and the
    * kilo-edge fixture graphs land on 1 (a 32-task shuffle over ~10³ rows is
    * pure scheduling overhead — guide §2.2 "fewer, larger reduce
    * partitions"). */
  private val targetRowsPerPartition = 430000L

  /** Minimum rows per task for the core-fill term of [[adaptiveParts]]:
    * below this, a task's work (~10 ms) no longer amortizes its scheduling
    * overhead, so engaging more cores stops paying (measured: kilo-row
    * fixture loops are fastest at 1 partition, while a 1.18M-row graph at 3
    * partitions left an idle 32-core box 0.7 s slower than at 30 — the fill
    * term covers exactly that middle regime). */
  private val minRowsPerTask = 40000L

  /** Scale-adaptive partition count for a superstep loop over `rows` rows:
    * max(ceil(rows/430k), enough-to-fill-the-cores while tasks keep ≥40k
    * rows), clamped to [1, 8 × defaultParallelism]. Derived from the DATA,
    * not from the local core constant, so the same code picks 1 on a laptop
    * fixture and hundreds on a cluster-sized graph (guide §2: "make
    * partitioning scale-adaptive ... rather than a constant tuned for either
    * local mode or the cluster"). Anchored to every measured optimum:
    * 13.7M-edge headline → 32 at local[32] (both terms agree), 337M → 256
    * (=8/core, BASELINE §d), kilo-row fixtures → 1. */
  def adaptiveParts(spark: org.apache.spark.sql.SparkSession, rows: Long): Int = {
    val cores = math.max(1, spark.sparkContext.defaultParallelism).toLong
    val r = math.max(0L, rows)
    val byThroughput = (r + targetRowsPerPartition - 1) / targetRowsPerPartition
    val fill = math.min(cores, (r + minRowsPerTask - 1) / minRowsPerTask)
    math.max(1L, math.min(cores * 8L, math.max(byThroughput, fill))).toInt
  }

  /** Runs `body` with loop-shaped session settings and restores them
    * afterwards: AQE off (static right-sized plans — AQE's per-stage
    * re-planning only adds driver overhead to a chain of mini-queries, and
    * [[IterativeRunner]] replays one static plan) and, when given, `parts`
    * shuffle partitions. `body` may set `spark.sql.shuffle.partitions`
    * itself mid-scope (ConnectedComponents sizes it from its first action);
    * the restore covers that too. The one scope for every loop-style
    * operator: IterativeRunner, random walks, SGD, dedup propagation, star
    * contraction. NOTE: any DataFrame RETURNED out of `body` is planned at
    * the caller's action, under the restored session settings. */
  def loopConf[T](spark: org.apache.spark.sql.SparkSession, parts: Option[Int])(body: => T): T = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    parts.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p.toString))
    try body finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
    }
  }

  /** Hash-repartition `df` by `key` to [[adaptiveParts]](workUnits) ONLY
    * when its planned parallelism is below that — raises the parallelism of
    * a wide aggregate over a small under-split input (one parquet split /
    * a 1-partition leaf runs a 60-column aggregate single-task) WITHOUT
    * adding a table-sized exchange where the scan is already parallel (at
    * real scale the input has thousands of splits and the map-side partial
    * aggregate must keep finishing groups before any exchange — shuffling
    * the pre-aggregate rows there would cost dim× the bytes).
    *
    * CONTRACT: `df` must be a checkpoint leaf or a shuffle-free plan
    * (scan/project/generate only). The parallelism probe reads
    * `df.rdd.getNumPartitions`, and under AQE accessing `.rdd` of a plan
    * with upstream exchanges EXECUTES those shuffle stages just to finalize
    * the plan — silent double execution. Every current caller passes a leaf
    * or a pure scan pipeline. */
  def widenIfNarrow(df: DataFrame, workUnits: Long, key: String): DataFrame = {
    val parts = adaptiveParts(df.sparkSession, workUnits)
    if (df.rdd.getNumPartitions >= parts) df else df.repartition(parts, col(key))
  }

  /** Exact output row count of an equi-self-join of `df` on `keys` with an
    * ordered (`a < b`, count/2) or unordered (`a =!= b`) pair condition:
    * Σ_k c(k)·(c(k)−1) over the key histogram — ONE tiny aggregate. This is
    * the sizing number AQE cannot see (it partitions by shuffle BYTES, and
    * a bucket/shingle/wedge self-join's output is orders of magnitude
    * larger than its input); feed it to [[adaptiveParts]] and repartition
    * the join input explicitly (shared by the dedup/LSH/wedge joins). */
  def selfJoinOutputRows(df: DataFrame, keys: Seq[String], ordered: Boolean): Long = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val pairs2 = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1L)), lit(0L))).head().getLong(0)
    if (ordered) pairs2 / 2L else pairs2
  }

  def byKey(df: DataFrame, key: String): DataFrame =
    df.localCheckpoint(true, StorageLevel.DISK_ONLY)
      .repartition(col(key))
      .persist()

  /** [[byKey]] pinned to an explicit partition count (e.g. a sibling cache's
    * [[byKeyAdaptive]]-derived count, so two caches of the same loop
    * co-partition without a second sizing scan). */
  def byKeyParts(df: DataFrame, key: String, parts: Int): DataFrame =
    df.localCheckpoint(true, StorageLevel.DISK_ONLY)
      .repartition(parts, col(key))
      .persist()

  /** [[byKey]] with a scale-adaptive partition count: the eager DISK_ONLY
    * leaf is counted (one cheap scan of the just-written checkpoint — ~0.1 s
    * at 13.7M rows, negligible against any loop that follows) and the hash
    * repartition uses [[adaptiveParts]] instead of the session constant.
    * Returns (cached frame, partition count) so the caller can pin the
    * loop's OTHER exchanges (state shuffles, message aggregates) to the same
    * count via [[IterativeRunner.loop]]'s `shuffleParts` — mismatched counts
    * would re-exchange the cached side every superstep. */
  def byKeyAdaptive(df: DataFrame, key: String): (DataFrame, Int) = {
    val leaf = df.localCheckpoint(true, StorageLevel.DISK_ONLY)
    val parts = adaptiveParts(leaf.sparkSession, leaf.count())
    (leaf.repartition(parts, col(key)).persist(), parts)
  }

  /** [[byKey]] + downcast the given long id columns to int when the observed
    * id space fits in int32. MEASURED NEGATIVE on this workload: the round-2
    * A/B on the 337M-edge superstep (`ScalingBench`, packed vs unpacked at 8
    * and 32 cores) showed int packing ~6% SLOWER at both levels with
    * identical 8→32 efficiency — the columnar cache already compresses long
    * vids, so the casts cost more than the width saves (BASELINE.md §c).
    * Kept as the documented experiment + for callers whose cached side is
    * NOT behind a columnar cache. Returns (cached frame, packed?). */
  def byKeyPacked(df: DataFrame, key: String, idCols: Seq[String]): (DataFrame, Boolean) = {
    import org.apache.spark.sql.functions.{greatest, least, max, min}
    val leaf = df.localCheckpoint(true, StorageLevel.DISK_ONLY)
    val bounds = leaf.agg(
      min(least(idCols.map(col): _*)).as("mn"),
      max(greatest(idCols.map(col): _*)).as("mx")).head()
    val pack = !bounds.isNullAt(0) &&
      bounds.getLong(0) > Int.MinValue.toLong && bounds.getLong(1) < Int.MaxValue.toLong
    val typed =
      if (pack) leaf.select(leaf.columns.map(c =>
        if (idCols.contains(c)) col(c).cast("int").as(c) else col(c)): _*)
      else leaf
    (typed.repartition(col(key)).persist(), pack)
  }
}
