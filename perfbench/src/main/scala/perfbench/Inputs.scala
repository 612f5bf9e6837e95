package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SyntheticTranscripts

/** Seeded `events` table for the query catalogue, in the column layout
  * `SparkEntry.queries` and the DuckDB oracles read. Every cell is a hash of
  * the seed and the row id, so one seed always gives the same file. */
object Inputs {

  /** Deterministic uniform in [0, 1). */
  private def unif(seed: Long, parts: org.apache.spark.sql.Column*) =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(1000003L)).cast("double") / lit(1000003.0)

  private def hashMod(seed: Long, m: Long, parts: org.apache.spark.sql.Column*) =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(m))

  /** One event per tool turn of a synthetic transcript table: user = the
    * conversation, event type = the tool. Five tools, like a product event
    * stream; the tool-hub skew comes from the transcript generator. */
  def events(spark: SparkSession, seed: Long, users: Long, maxTurns: Int): DataFrame =
    SyntheticTranscripts.generate(spark, users, maxTurns = maxTurns, nTools = 5, seed = seed)
      .where(col("tool").isNotNull)
      .select(
        substring(col("conv_id"), 2, 8).cast("long").as("user_id"),
        col("turn_idx"), col("tool").as("event_type"),
        // turns of one user are one second apart: add a seeded jitter below
        // that so timestamps stay unique and interleave across users
        (col("ts").cast("double") +
          unif(seed, col("conv_id"), col("turn_idx"), lit("jit")) * 0.9).cast("timestamp").as("ts"))
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("ts", "user_id")) - 1L,
        col("ts"), col("user_id"), col("event_type"),
        round(unif(seed, col("user_id"), col("turn_idx"), lit("v")) * 200.0, 2),
        concat(lit("{\"k\": "), hashMod(seed, 100L, col("user_id"), col("turn_idx"), lit("k"))
          .cast("string"), lit("}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
}
