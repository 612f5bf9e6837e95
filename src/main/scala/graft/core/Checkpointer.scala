package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ParquetDirTableIO, TableIO}

/** Durable iteration-state checkpoint with per-partition lineage and a
  * metrics log, so a killed run resumes mid-convergence (north rule). This
  * supplies what the reference left unimplemented
  * (`PSPartition.checkpoint()` is `???`, `PSPartition.scala:172`) and
  * replaces `Graph.checkpoint` (`Graph.scala:518-528`).
  *
  * Storage goes through the [[graft.sources.TableIO]] seam (Iceberg in
  * production, Iceberg-shaped parquet directories here). Per run:
  *
  *   state/iter=NNNNNN/   vertex-state snapshot (committed LAST — a crash
  *                        mid-write leaves no visible snapshot)
  *   lineage/iter=NNNNNN/ (partition_id, rows, checksum, input_fingerprint)
  *   metrics.jsonl        one line per iteration (iter, active_count,
  *                        wall_ms, driver_ms, job_ms — [[IterMetrics]])
  */
final class Checkpointer(spark: SparkSession, root: String, runId: String) {

  private val base = s"$root/$runId"
  private val io: TableIO = new ParquetDirTableIO(base)

  private def stateTable(iter: Int) = f"state/iter=$iter%06d"

  /** Writes `state` (normally the loop's materialized in-memory leaf, so
    * nothing upstream is recomputed) and its lineage, then commits. The
    * caller keeps using its own leaf: a reload of the parquet snapshot would
    * lose the leaf's hash partitioning and re-plan every superstep after. */
  def save(state: DataFrame, iter: Int): Unit = {
    val tbl = stateTable(iter)
    io.writeData(state, tbl)
    val hashCols = state.columns.map(col).toSeq
    io.write(
      state
        .groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("rows"), bit_xor(xxhash64(hashCols: _*)).as("checksum"))
        .withColumn("input_fingerprint", lit(runId)),
      f"lineage/iter=$iter%06d")
    io.commit(tbl) // state commit is the atomic publish point
  }

  def appendMetrics(m: IterMetrics): Unit = {
    Files.createDirectories(Paths.get(base))
    val line =
      s"""{"iter":${m.iter},"active_count":${m.activeCount},"wall_ms":${m.wallMs},""" +
        s""""driver_ms":${m.driverMs},"job_ms":${m.jobMs}}\n"""
    Files.write(metricsPath, line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def metricsPath = Paths.get(s"$base/metrics.jsonl")

  /** Where a loop with this run id starts: the latest committed iteration
    * (0 if none) and its state. Metrics lines past that iteration — written
    * by a killed run after its last snapshot, and about to be written again
    * — are dropped, so the log keeps one line per iteration. */
  def resume(): (Int, Option[DataFrame]) = {
    val from = latestIter.getOrElse(0)
    if (Files.exists(metricsPath)) {
      val iterOf = "\"iter\":(\\d+)".r
      val kept = Files.readAllLines(metricsPath).asScala.filter(l =>
        iterOf.findFirstMatchIn(l).forall(_.group(1).toInt <= from))
      Files.write(metricsPath, kept.asJava)
    }
    (from, restore())
  }

  /** Latest committed iteration, if any. */
  def latestIter: Option[Int] =
    io.snapshots("state").lastOption.map(_.stripPrefix("state/iter=").toInt)

  def restore(): Option[DataFrame] =
    latestIter.map(i => io.read(spark, stateTable(i)))
}
