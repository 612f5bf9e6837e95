package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.core.Sessions

/** One benchmark run: set-up repeated [[SetupReps]] times, one warm-up pass
  * (charged to set-up), then closed-loop passes (one client, one job at a
  * time) until `--seconds` have elapsed, then output checks. Writes a result
  * JSON to `--out`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <file>
  */
object Main {

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val env0 = Env.sample()
    val spark = Sessions.localBuilder(cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val c = new Ctx(spark, tracer, seed, dir)
    if (trace) tracer.start()

    var attempted, failed = 0
    def pass(): Pass = {
      val opS = workload.ops.map { op =>
        op.prepare(c)
        attempted += 1
        val s = timed {
          try c.span(op.name, op.layer)(op.run(c))
          catch { case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] ${op.name} failed: ${e.getMessage}")
          }
        }
        System.err.println(f"[perfbench] ${c.phase} ${c.round} ${op.name} $s%.3f s")
        op.name -> s
      }
      Pass(c.round, tracer.on, opS.toMap, opS.map(_._2).sum)
    }

    val setupReps = (0 until SetupReps).map { r =>
      c.phase = "setup"; c.round = r
      timed(workload.setup(c))
    }
    // the first pass runs cold (JIT, codegen, file caches): it is set-up work
    c.phase = "warmup"; c.round = 0
    val warmup = pass().seconds
    val setupS = median(setupReps) + warmup

    // Closed loop. With tracing on, passes alternate untraced / traced /
    // untraced ..., so the run measures its own tracing overhead with the
    // traced passes between untraced ones.
    val passes = mutable.ArrayBuffer[Pass]()
    val minPasses = if (trace) 3 else 1
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (trace) { if (passes.size % 2 == 1) tracer.start() else tracer.stop() }
      c.phase = "pass"; c.round = passes.size
      passes += pass()
    }
    tracer.stop()

    c.phase = "check"
    val checks =
      try workload.check(c)
      catch { case e: Exception => Seq(Check("checks", ok = false, s"${e.getClass.getName}: ${e.getMessage}")) }
    checks.filterNot(_.ok).foreach(k => System.err.println(s"[perfbench] check ${k.name} failed: ${k.detail}"))
    val counts = workload.counts(c)
    val env1 = Env.sample()

    val untraced = passes.filterNot(_.traced).toSeq
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(untraced.map(_.seconds)), "s"),
      ("pr_edges_per_s",
        workload.symEdges * workload.prIterations / median(untraced.map(_.opSeconds(workload.prOp))),
        "edges/s"))
    val layers: Seq[(String, Double, String)] =
      if (!trace) Seq.empty
      else Layers.metrics(tracer, passes.toSeq, counts) :+
        (("trace.overhead_s",
          median(passes.filter(_.traced).map(_.seconds).toSeq) - median(untraced.map(_.seconds)), "s"))
    if (trace) tracer.dump(s"$dir/trace.jsonl")

    val metrics = (if (trace) layers else e2e)
      .map { case (k, v, u) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
      .mkString("{", ", ", "}")
    val checkJson = checks.map(k =>
      s"""{"name": ${Json.str(k.name)}, "ok": ${k.ok}, "detail": ${Json.str(k.detail)}}""").mkString("[", ", ", "]")
    val passJson = passes.map(p =>
      s"""{"round": ${p.round}, "traced": ${p.traced}, "seconds": ${Json.num(p.seconds)}, "ops": """ +
        p.opSeconds.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}") + "}")
      .mkString("[", ", ", "]")
    val out =
      s"""{"workload": ${Json.str(workload.name)}, "seed": $seed, "trace": $trace,
         |"attempted": $attempted, "failed": $failed, "checks": $checkJson,
         |"metrics": $metrics, "setup_reps_s": ${setupReps.map(Json.num).mkString("[", ", ", "]")},
         |"warmup_pass_s": ${Json.num(warmup)},
         |"passes": $passJson,
         |"env": {"nproc": $cpus, "master": ${Json.str(spark.sparkContext.master)},
         |  "heap_max_mb": ${Runtime.getRuntime.maxMemory() / (1 << 20)},
         |  "load_1m_before": ${Json.num(env0.load1)}, "load_1m_after": ${Json.num(env1.load1)},
         |  "steal_ticks": ${env1.steal - env0.steal}}}""".stripMargin
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }

  final case class Pass(round: Int, traced: Boolean, opSeconds: Map[String, Double], seconds: Double)

  def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Machine state recorded with every run: the box is shared, and co-tenant
  * load and hypervisor steal are the main noise sources. */
object Env {
  final case class Sample(load1: Double, steal: Long)

  def sample(): Sample = {
    def read(p: String) =
      try Files.readString(Paths.get(p)) catch { case _: Exception => "" }
    val load = read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(Double.NaN)
    val steal = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    Sample(load, steal)
  }
}
