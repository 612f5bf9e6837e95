package graft.core

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types.BooleanType

/** Per-iteration metrics row (the engine analog of the reference Pregel's
  * per-superstep bookkeeping, `framework/Pregel.scala:41-48` — whose early
  * exit was dead because `activeMessageCount` returned `BitSet.capacity`,
  * `Graph.scala:446-455`; ours actually counts).
  *
  * @param activeCount the stop count (first of the loop's `counts`); -1 for
  *                    a fixed-count loop, which counts nothing.
  * @param wallMs      the whole superstep.
  * @param driverMs    building (or replaying) the superstep's physical plan
  *                    and `execute()`-ing it into the state RDD.
  * @param jobMs       the job that materializes the state and counts it,
  *                    plus the durable save on a snapshot superstep.
  * @param counts      every one of the loop's `counts`, in order.
  */
final case class IterMetrics(
    iter: Int,
    activeCount: Long,
    wallMs: Long,
    driverMs: Long = 0L,
    jobMs: Long = 0L,
    counts: Vector[Long] = Vector.empty)

/** Driver loop shared by every iterative algorithm (PageRank / CC / LPA /
  * HITS / k-core / shortest paths): one declarative Catalyst plan per
  * superstep (join → partial+final aggregate → join), so whole-stage codegen
  * and exchange reuse apply to every superstep.
  *
  * Replay contract. `step` is called to PLAN a superstep, not once per
  * superstep: the runner builds the step's physical plan against the current
  * state leaf and, as long as each output has the same schema, partitioning
  * and ordering as the leaf the plan reads, replays that plan for every
  * later superstep — it swaps the new state RDD into the plan's
  * `RDDScanExec` leaf and `execute()`s it, with no analysis, optimization or
  * planning. In practice a loop plans twice: on the initial state and on
  * superstep 1's output (whose partitioning is the steady one). So `step`
  * must be a pure function of the state DataFrame: anything else it reads
  * (cached edge tables, driver-side values) is fixed at planning time, and
  * its plan must read the state only through the state leaf itself — a
  * leaf RDD derived from the state (a nested `localCheckpoint` of it) would
  * be frozen at its first value, so the runner rejects such a step with an
  * IllegalArgumentException.
  *
  * Lineage and jobs. Each superstep's state is a local checkpoint of the
  * executed plan (MEMORY_AND_DISK; superseded ones are dropped by the
  * ContextCleaner once unreferenced), so plans never nest across supersteps.
  * The stop count is computed inside the one job that materializes that
  * checkpoint: a tolerance loop runs exactly one job per superstep, a
  * fixed-count loop (no `counts`) none — its checkpoints are materialized
  * by the caller's first action. A durable [[Checkpointer]] (if given)
  * additionally writes state + lineage + metrics every `truncateEvery`
  * supersteps from the materialized leaf, so a killed run resumes
  * mid-convergence; the loop continues from the in-memory leaf.
  */
object IterativeRunner {

  final case class Result(state: DataFrame, iterations: Int, metrics: Vector[IterMetrics])

  /** @param init        initial state; any schema, must contain the columns
    *                    the steps expect.
    * @param maxIter     hard iteration cap.
    * @param shuffleParts scale-adaptive shuffle-partition count for every
    *                    exchange inside the loop (state shuffles, message
    *                    aggregates) — normally the count
    *                    [[IterCache.byKeyAdaptive]] derived for the cached
    *                    edge side, so all loop exchanges co-partition with it
    *                    and the cached exchange is reused every superstep.
    *                    None keeps the session setting.
    * @param counts      names of boolean state columns. Each superstep counts
    *                    the rows where each is true, in the job that
    *                    materializes the new state; the loop stops when the
    *                    first count is 0. Empty: a fixed-count loop.
    * @param switchWhen  called with each superstep's counts; when true, the
    *                    loop moves on to the next of `steps` (if any) and
    *                    plans it on the current state.
    * @param steps       state → next state, one per loop segment (most loops
    *                    have one). Must be a pure Dataset transformation of
    *                    the state (see the replay contract above); it may
    *                    reference the state any number of times.
    */
  def loop(
      init: DataFrame,
      maxIter: Int,
      truncateEvery: Int = 10,
      checkpointer: Option[Checkpointer] = None,
      shuffleParts: Option[Int] = None,
      counts: Seq[String] = Nil,
      switchWhen: Vector[Long] => Boolean = _ => false)(
      steps: (DataFrame => DataFrame)*): Result = {
    require(steps.nonEmpty, "IterativeRunner.loop needs a step")
    // AQE off for the duration of the loop: adaptive re-planning of the
    // per-superstep message shuffle defeats the static one-exchange plan and
    // its partitioning reuse (measured ~2× slower; PLANS.md), and replay
    // needs a static plan.
    IterCache.loopConf(init.sparkSession, shuffleParts) {
      run(init, maxIter, truncateEvery, checkpointer, counts, switchWhen, steps.toVector)
    }
  }

  private def run(
      init: DataFrame,
      maxIter: Int,
      truncateEvery: Int,
      checkpointer: Option[Checkpointer],
      counts: Seq[String],
      switchWhen: Vector[Long] => Boolean,
      steps: Vector[DataFrame => DataFrame]): Result = {
    val (startIter, restored) = checkpointer.map(_.resume()).getOrElse((0, None))
    // `origin` is the Dataset whose plan produced `state`: it gives the
    // state leaf its attributes, partitioning and statistics
    var origin = restored.getOrElse(init)
    var state = checkpoint(planOf(origin))
    var plan: Option[Plan] = None
    var segment = 0
    var iter = startIter
    val metrics = Vector.newBuilder[IterMetrics]
    var active = 1L
    while (iter < maxIter && active != 0) {
      val t0 = System.nanoTime()
      iter += 1
      val p = plan.filter(_.replayable).map(_.replay(state)).getOrElse {
        val built = Plan.build(GraftShim.leafFrame(state, origin), state, steps(segment), counts)
        origin = built.origin
        built
      }
      plan = Some(p)
      state = checkpoint(p.exec)
      val t1 = System.nanoTime()
      val c = if (counts.isEmpty) Vector.empty[Long] else countTrue(state, p.countOrdinals)
      if (iter % truncateEvery == 0)
        checkpointer.foreach(_.save(GraftShim.leafFrame(state, origin), iter))
      val t2 = System.nanoTime()
      active = c.headOption.getOrElse(-1L)
      val m = IterMetrics(iter, active, (t2 - t0) / 1000000L, (t1 - t0) / 1000000L,
        (t2 - t1) / 1000000L, c)
      metrics += m
      checkpointer.foreach(_.appendMetrics(m))
      if (segment + 1 < steps.size && c.nonEmpty && switchWhen(c)) {
        segment += 1
        plan = None
      }
    }
    Result(GraftShim.leafFrame(state, origin), iter, metrics.result())
  }

  private def planOf(df: DataFrame): SparkPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan

  /** Executes `exec` into a lazily local-checkpointed row RDD — what
    * `Dataset.localCheckpoint(false)` does, minus planning the Dataset. */
  private def checkpoint(exec: SparkPlan): RDD[InternalRow] = {
    val rdd = exec.execute().map(_.copy())
    rdd.localCheckpoint()
    rdd
  }

  /** Materializes `state` and counts, per ordinal, the rows whose boolean
    * column is true — one job. */
  private def countTrue(state: RDD[InternalRow], ordinals: Array[Int]): Vector[Long] = {
    val perPartition = state.sparkContext.runJob(state, (rows: Iterator[InternalRow]) => {
      val c = new Array[Long](ordinals.length)
      rows.foreach { r =>
        var k = 0
        while (k < ordinals.length) {
          if (!r.isNullAt(ordinals(k)) && r.getBoolean(ordinals(k))) c(k) += 1
          k += 1
        }
      }
      c
    })
    ordinals.indices.map(k => perPartition.map(_(k)).sum).toVector
  }

  /** A superstep's executed physical plan, the state leaf RDD it reads, and
    * the Dataset it was planned from. */
  private final case class Plan(
      origin: DataFrame,
      exec: SparkPlan,
      leaf: RDD[InternalRow],
      countOrdinals: Array[Int],
      replayable: Boolean) {

    /** The same plan over `next`: every node between the state leaf and the
      * root is copied (fresh exchanges, codegen); subtrees that do not read
      * the state are shared as they are. A reused exchange follows its
      * (copied) original, so the replay keeps sharing it. */
    def replay(next: RDD[InternalRow]): Plan = {
      val memo = new java.util.IdentityHashMap[SparkPlan, SparkPlan]()
      def swap(p: SparkPlan): SparkPlan = {
        val hit = memo.get(p)
        if (hit != null) hit
        else {
          val out = p match {
            case s: RDDScanExec if s.rdd eq leaf => s.copy(rdd = next)
            case r: ReusedExchangeExec =>
              val c = swap(r.child)
              if (c eq r.child) r else r.copy(child = c.asInstanceOf[Exchange])
            case _ =>
              val kids = p.children.map(swap)
              if (kids.corresponds(p.children)(_ eq _)) p else p.withNewChildren(kids)
          }
          memo.put(p, out)
          out
        }
      }
      copy(exec = swap(exec), leaf = next)
    }
  }

  private object Plan {
    def build(
        leafFrame: DataFrame,
        leaf: RDD[InternalRow],
        step: DataFrame => DataFrame,
        counts: Seq[String]): Plan = {
      val origin = step(leafFrame)
      val exec = planOf(origin)
      val scans = exec.collect { case s: RDDScanExec => s }
      val (own, other) = scans.partition(_.rdd eq leaf)
      if (own.isEmpty)
        throw new IllegalArgumentException(
          "IterativeRunner: the step's plan does not read the state leaf")
      other.find(s => derivesFrom(s.rdd, leaf)).foreach { s =>
        throw new IllegalArgumentException(
          s"IterativeRunner: the step's plan reads a leaf RDD derived from the state " +
            s"(${s.rdd}), which plan replay would freeze at its first value; reference " +
            "the state itself instead (e.g. no localCheckpoint inside a step)")
      }
      val schema = origin.schema
      val ordinals = counts.map { n =>
        val i = schema.fieldIndex(n)
        require(schema(i).dataType == BooleanType, s"count column $n must be boolean")
        i
      }.toArray
      val in = shape(own.head.output, own.head.outputPartitioning, own.head.outputOrdering)
      val out = shape(exec.output, firstLeaf(exec.outputPartitioning), exec.outputOrdering)
      Plan(origin, exec, leaf, ordinals, replayable = in == out)
    }

    /** Schema, partitioning and ordering with attributes replaced by their
      * ordinals, so a leaf and a plan output compare by position. */
    private def shape(out: Seq[Attribute], p: Partitioning, order: Seq[SortOrder]) = {
      def byOrdinal(e: Expression): Expression = e.transform {
        case a: Attribute => BoundReference(out.indexWhere(_.exprId == a.exprId), a.dataType, true)
      }
      (out.map(a => (a.name, a.dataType, a.nullable)),
        p match { case e: Expression => byOrdinal(e); case other => other },
        order.map(byOrdinal))
    }

    /** The partitioning `Dataset.localCheckpoint` gives its leaf. */
    @annotation.tailrec
    private def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }

    private def derivesFrom(rdd: RDD[_], state: RDD[_]): Boolean = {
      val seen = mutable.Set[Int]()
      val todo = mutable.Stack[RDD[_]](rdd)
      while (todo.nonEmpty) {
        val r = todo.pop()
        if (r eq state) return true
        if (seen.add(r.id)) r.dependencies.foreach(d => todo.push(d.rdd))
      }
      false
    }
  }
}
