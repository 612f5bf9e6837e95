package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** The one package-private Spark call graft needs: a DataFrame over an
  * already-computed row RDD. [[graft.core.IterativeRunner]] executes each
  * superstep's physical plan itself and wraps the resulting state RDD back
  * into a DataFrame here, exactly as `Dataset.localCheckpoint` wraps its
  * checkpointed RDD (same output attributes, partitioning, ordering and
  * statistics as `like`, the Dataset whose plan produced `rdd`). */
object GraftShim {
  def leafFrame(rdd: RDD[InternalRow], like: DataFrame): DataFrame = {
    val ds = like.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
