package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank}
import graft.core.Checkpointer
import graft.derive.LinkGraph
import graft.model.SyntheticTranscripts
import graft.sources.ParquetDirTableIO

/** Run state shared by a workload's set-up, passes and checks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val dir: String) {
  var phase = "setup"
  var round = 0
  def span[T](name: String, layer: String)(body: => T): T =
    tracer.span(name, layer, phase, round)(body)
  def path(rel: String): String = s"$dir/$rel"
  def write(df: DataFrame, rel: String): Unit = df.write.mode("overwrite").parquet(path(rel))
  def read(rel: String): DataFrame = spark.read.parquet(path(rel))
}

/** One timed operation of a pass: a call into one layer, up to its full
  * result written. `prepare` runs untimed before it. */
final case class Op(name: String, layer: String, run: Ctx => Unit, prepare: Ctx => Unit = _ => ())

final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  def name: String
  /** One set-up repetition: inputs generated, written and read back; graph derived where set-up owns it. */
  def setup(c: Ctx): Unit
  def ops: Seq[Op]
  /** Output checks over the files the last pass wrote; never timed. */
  def check(c: Ctx): Seq[Check]
  /** The operation `pr_edges_per_s` is timed on: a tolerance PageRank loop
    * up to its ranks written. */
  def prOp: String
  /** Symmetrized edge count of the graph [[prOp]] runs on. */
  def symEdges: Double
  /** Supersteps [[prOp]] ran; the same in every pass of a run. */
  def prIterations: Double
  /** Per-layer counts the benchmark knows from the results it received. */
  def counts(c: Ctx): Map[String, Double]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "pagerank_synth" => new PagerankSynth
    case "ingest_components" => new IngestComponents
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every operation name of every workload, for the per-operation metrics. */
  lazy val allOps: Seq[String] =
    (new PagerankSynth).ops.map(_.name) ++ (new IngestComponents).ops.map(_.name)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Writes synthetic transcripts through the engine's table seam and reads
    * them back, as a user's ingest would. */
  def transcriptsInput(c: Ctx, io: ParquetDirTableIO, table: String, convs: Long, nTools: Int): Unit = {
    c.span("model.generate", "model") {
      io.write(SyntheticTranscripts.generate(c.spark, convs, maxTurns = 20, nTools = nTools, seed = c.seed),
        table)
    }
    c.span("sources.read_input", "sources")(io.read(c.spark, table).count())
  }

  def total(df: DataFrame, column: String): Double = df.agg(sum(col(column))).head().getDouble(0)
}

/** Headline loop: exact tolerance PageRank, then the frontier variant, on a
  * graph derived and cached in set-up, so only superstep loops are timed. */
final class PagerankSynth extends Workload {
  val name = "pagerank_synth"
  private val Convs = 6000L
  private val Tools = 500
  private val Tol = 1e-6

  private var edges: DataFrame = _
  private var nEdges, nVertices = 0L
  private var exact: PageRank.Result = _
  private var frontier: PageRank.Result = _
  private var agree: Checks.RelDiff = _

  def setup(c: Ctx): Unit = {
    if (edges != null) edges.unpersist(true)
    val io = new ParquetDirTableIO(c.path("input"))
    Workloads.transcriptsInput(c, io, "transcripts", Convs, Tools)
    c.span("derive.fromTranscripts", "derive") {
      val g = LinkGraph.fromTranscripts(io.read(c.spark, "transcripts"))
      c.write(g.vertices, "graph/vertices")
      c.write(g.edges, "graph/edges")
    }
    edges = c.read("graph/edges").persist(StorageLevel.MEMORY_AND_DISK)
    nEdges = edges.count()
    nVertices = c.read("graph/vertices").count()
  }

  val ops: Seq[Op] = Seq(
    Op("pagerank", "algo", c => {
      exact = PageRank.run(edges, tol = Tol, maxIter = 100)
      c.write(exact.ranks, "out/pagerank")
    }),
    Op("frontier", "algo", c => {
      frontier = PageRank.runFrontier(edges, tol = Tol, maxIter = 100)
      c.write(frontier.ranks, "out/frontier")
    }))

  def prOp: String = "pagerank"
  def symEdges: Double = 2.0 * nEdges
  def prIterations: Double = exact.iterations.toDouble

  def check(c: Ctx): Seq[Check] = {
    val ex = c.read("out/pagerank")
    val fr = c.read("out/frontier")
    val mass = Workloads.total(ex, "pr")
    val massOk = math.abs(mass - nVertices) <= 1e-9 * nVertices
    val resid = Checks.pagerankResidual(c.read("graph/edges"), ex, resetProb = 0.15)
    agree = Checks.relDiff(ex, fr, "pr")
    val nRows = ex.count()
    Seq(
      Check("pagerank.rows", nRows == nVertices, s"rows=$nRows vertices=$nVertices"),
      Check("pagerank.converged", exact.iterations < 100, s"iterations=${exact.iterations}"),
      Check("pagerank.mass", massOk, s"sum=$mass vertices=$nVertices"),
      Check("pagerank.residual", resid < Tol, s"max |step(r) - r| = $resid"),
      // Norm-wise: per vertex the two loops may differ by more than 1e-6 even
      // when both are right, since each stops on an absolute per-vertex
      // change below tol, not on its distance to the fixed point.
      Check("frontier.agrees", agree.l1 <= 1e-6 && fr.count() == nRows,
        s"L1 rel diff = ${agree.l1}, max per-vertex rel diff = ${agree.maxPerVertex}"))
  }

  def counts(c: Ctx): Map[String, Double] = Map(
    "algo.pr_iterations" -> exact.iterations.toDouble,
    "algo.frontier_iterations" -> frontier.iterations.toDouble,
    "algo.frontier_active_frac" ->
      frontier.frontierSizes.sum.toDouble / (frontier.iterations.toDouble * nVertices),
    "algo.frontier_max_rel_diff" -> agree.maxPerVertex)
}

/** Ingest to components: graph derivation timed from parquet transcripts,
  * then connected components, label propagation, a checkpointed PageRank and
  * its restore, then a catalogue query (link prediction) over an event
  * table. The only workload that times `graft.derive`, durable loop
  * state and the query catalogue; planning and job scheduling dominate. */
final class IngestComponents extends Workload {
  val name = "ingest_components"
  private val Convs = 5000L
  private val Tools = 100
  private val LpaIters = 5
  private val CkptIters = 20
  private val Users = 300L
  private val MaxTurns = 100
  /** Catalogue query of the pass: link prediction, a wedge-heavy self-join
    * plus an aggregate that `count()` would drop. */
  private val Query = "q_adamic_adar"

  private var ckptIterations = 0
  private var nEdges = 0L

  private def io(c: Ctx) = new ParquetDirTableIO(c.path("input"))
  private def ckptRoot(c: Ctx) = c.path("out/ckpt")

  def setup(c: Ctx): Unit = {
    Workloads.transcriptsInput(c, io(c), "transcripts", Convs, Tools)
    c.span("model.generate", "model") {
      io(c).write(Inputs.events(c.spark, c.seed, Users, MaxTurns), "events.parquet")
    }
  }

  val ops: Seq[Op] = Seq(
    Op("graph_build", "derive", c => {
      val g = LinkGraph.fromTranscripts(io(c).read(c.spark, "transcripts"))
      c.write(g.vertices, "out/vertices")
      c.write(g.edges, "out/edges")
    }),
    Op("cc", "algo", c =>
      c.write(ConnectedComponents.run(c.read("out/edges"), c.read("out/vertices")), "out/cc")),
    Op("lpa", "algo", c =>
      c.write(LabelPropagation.run(c.read("out/edges"), c.read("out/vertices"), LpaIters), "out/lpa")),
    // tolerance loop capped at 20 supersteps (it needs ~40 to converge): one
    // convergence action per superstep and durable saves at supersteps 10 and 20
    Op("ckpt_pagerank", "algo", c => {
      val r = PageRank.run(c.read("out/edges"), tol = 1e-6, maxIter = CkptIters,
        checkpointer = Some(new Checkpointer(c.spark, ckptRoot(c), "pr")))
      ckptIterations = r.iterations
      c.write(r.ranks, "out/ckpt_pr")
    }, prepare = c => Workloads.deleteTree(Paths.get(ckptRoot(c)))),
    Op("ckpt_restore", "sources", c => {
      val restored = new Checkpointer(c.spark, ckptRoot(c), "pr").restore()
        .getOrElse(sys.error("no committed checkpoint"))
      c.write(restored.select("vid", "pr"), "out/ckpt_restored")
    }),
    Op(Query, "mix", c => c.write(SparkEntry.queries(Query)(c.spark, c.path("input")), s"out/$Query")))

  def prOp: String = "ckpt_pagerank"
  def symEdges: Double = 2.0 * nEdges
  def prIterations: Double = ckptIterations.toDouble

  /** Driver-side re-computations for CC and LPA, an uncheckpointed re-run
    * for the checkpoint; the query outputs are compared with their DuckDB
    * oracles by the launcher, from the oracle SQL written here. */
  def check(c: Ctx): Seq[Check] = {
    val e = c.read("out/edges").select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nV = c.read("out/vertices").count()
    nEdges = e.length
    val cc = c.read("out/cc").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpa = c.read("out/lpa").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ufWant = Checks.unionFind(nV, e)
    val lpaWant = Checks.labelPropagation(nV, e, LpaIters)
    val ccBad = (1L to nV).count(v => !cc.get(v).contains(ufWant((v - 1).toInt)))
    val lpaBad = (1L to nV).count(v => !lpa.get(v).contains(lpaWant((v - 1).toInt)))
    val fin = c.read("out/ckpt_pr")
    // the snapshot restored from disk against an independent run of the same
    // supersteps that never touches a checkpoint
    val plain = PageRank.run(c.read("out/edges"), tol = 1e-6, maxIter = CkptIters).ranks
    val restoreDiff = Checks.relDiff(c.read("out/ckpt_restored"), plain, "pr").maxPerVertex
    val mass = Workloads.total(fin, "pr")
    Files.writeString(Paths.get(c.path("out/oracle_sql.json")),
      s"{${Json.str(Query)}: ${Json.str(SparkEntry.oracleSql(Query))}}")
    Seq(
      Check("cc.union_find", cc.size == nV && ccBad == 0, s"vertices=$nV mismatches=$ccBad"),
      Check("lpa.driver_lpa", lpa.size == nV && lpaBad == 0, s"vertices=$nV mismatches=$lpaBad"),
      Check("ckpt.iterations", ckptIterations == CkptIters, s"iterations=$ckptIterations"),
      Check("ckpt.restore_matches_uncheckpointed", restoreDiff <= 1e-12 && fin.count() == nV,
        s"max rel diff = $restoreDiff"),
      Check("ckpt.mass", math.abs(mass - nV) <= 1e-9 * nV, s"sum=$mass vertices=$nV"))
  }

  def counts(c: Ctx): Map[String, Double] = {
    // Σ_z C(deg z, 2) over the wedge centres of the event graph ÷ Adamic–Adar output pairs
    val g = LinkGraph.fromTranscripts(LinkGraph.transcriptsFromEvents(c.spark, c.path("input")))
    val deg = LinkGraph.symmetrize(g.edges).groupBy("src").count()
    val wedges = deg.agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    val pairs = c.read(s"out/$Query").count()
    Map(
      "algo.pr_iterations" -> ckptIterations.toDouble,
      "algo.linkpred_wedges_per_pair" -> (if (pairs > 0) wedges / pairs else 0.0))
  }
}
