package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.{Checkpointer, IterativeRunner}

class CheckpointSpec extends SparkTestBase {
  import spark.implicits._

  private def countdownStep(state: org.apache.spark.sql.DataFrame, iter: Int) =
    state.select($"vid", ($"value" - 1.0).as("value"), ($"value" > 1.0).as("active"))

  test("kill-after-iteration-k resume reproduces the uninterrupted run exactly") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val init = (1L to 20L).map(v => (v, v.toDouble, true)).toDF("vid", "value", "active")

    val full = IterativeRunner.loop(init, maxIter = 9, truncateEvery = 3,
      checkpointer = Some(new Checkpointer(spark, root, "run-full")), counts = Seq("active"))(
      countdownStep(_, 0))

    // "killed" run: stop at iteration 5 (checkpoints committed at 3)
    IterativeRunner.loop(init, maxIter = 5, truncateEvery = 3,
      checkpointer = Some(new Checkpointer(spark, root, "run-killed")), counts = Seq("active"))(
      countdownStep(_, 0))
    // resume with the same runId: restarts from iter 3, continues to 9
    val resumed = IterativeRunner.loop(init, maxIter = 9, truncateEvery = 3,
      checkpointer = Some(new Checkpointer(spark, root, "run-killed")), counts = Seq("active"))(
      countdownStep(_, 0))

    val a = full.state.select("vid", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val b = resumed.state.select("vid", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(a.toSeq == b.toSeq)
    assert(resumed.iterations == 9)

    // lineage table exists with per-partition rows + checksum
    val lineage = spark.read.parquet(s"$root/run-full/lineage/iter=000009")
    assert(lineage.columns.toSet == Set("partition_id", "rows", "checksum", "input_fingerprint"))
    assert(lineage.agg(sum("rows")).head().getLong(0) == 20L)

    // metrics log has one line per iteration
    val metrics = Files.readAllLines(java.nio.file.Paths.get(s"$root/run-full/metrics.jsonl"))
    assert(metrics.size == full.iterations)
    // ... also after a resume: the killed run's lines past its snapshot are
    // dropped, not duplicated by the resumed run
    val resumedIters = Files.readAllLines(java.nio.file.Paths.get(s"$root/run-killed/metrics.jsonl"))
      .asScala.map(l => "\"iter\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt).toSeq
    assert(resumedIters == (1 to 9), s"resumed metrics iterations: $resumedIters")
  }

  test("restore picks the latest COMPLETE snapshot only") {
    val root = Files.createTempDirectory("graft-ckpt2").toString
    val cp = new Checkpointer(spark, root, "r1")
    val df = Seq((1L, 2.0, true)).toDF("vid", "value", "active")
    cp.save(df, 4)
    // simulate a torn write: directory exists but no commit marker
    val torn = java.nio.file.Paths.get(s"$root/r1/state/iter=000008")
    Files.createDirectories(torn)
    assert(cp.latestIter.contains(4))
    assert(cp.restore().get.count() == 1)
  }
}
