package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.algo.{LabelPropagation, PageRank}
import graft.core.IterativeRunner

/** The superstep loop's contract: one job per superstep for a loop that
  * counts convergence, none for a fixed-count loop, and plan replay refuses
  * a step that would freeze a state-derived leaf. */
class IterativeRunnerSpec extends SparkTestBase {
  import spark.implicits._

  /** Runs `body` and returns its value with the number of Spark jobs
    * launched from inside the loop driver (call site in IterativeRunner). */
  private def loopJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val sites = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sites.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("") ->
          e.stageInfos.map(_.details).mkString("\n"))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // the listener bus delivers in order: once a marker job's start is
      // seen, every job `body` launched has been seen too
      val marker = s"loop-jobs-marker-${System.nanoTime()}"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!sites.asScala.exists(_._1 == marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(sites.asScala.exists(_._1 == marker), "listener never saw the marker job")
      (out, sites.asScala.count(_._2.contains("graft.core.IterativeRunner")))
    } finally sc.removeSparkListener(listener)
  }

  test("a tolerance loop runs exactly one job per superstep") {
    val (res, jobs) = loopJobs(PageRank.run(GraphFixture.graph.edges, tol = 1e-6, maxIter = 100))
    assert(res.iterations > 2)
    assert(jobs == res.iterations, s"$jobs loop jobs for ${res.iterations} supersteps")
  }

  test("fixed-count loops run no job per superstep") {
    val (_, prJobs) = loopJobs(PageRank.runFixed(GraphFixture.graph.edges, iterations = 6))
    assert(prJobs == 0, s"runFixed launched $prJobs loop jobs")
    val g = GraphFixture.graph
    val (_, lpaJobs) = loopJobs(LabelPropagation.run(g.edges, g.vertices, iterations = 6))
    assert(lpaJobs == 0, s"LPA launched $lpaJobs loop jobs")
  }

  test("a step whose plan reads a leaf derived from the state is rejected") {
    val init = (1L to 10L).map(v => (v, v.toDouble)).toDF("vid", "value")
    val err = intercept[IllegalArgumentException] {
      IterativeRunner.loop(init, maxIter = 3) { state =>
        // replay would keep reading this leaf's FIRST value every superstep
        val half = state.select($"vid", ($"value" / 2).as("half")).localCheckpoint(false)
        state.join(half, "vid").select($"vid", ($"value" - $"half").as("value"))
      }
    }
    assert(err.getMessage.contains("derived from the state"), err.getMessage)
  }
}
