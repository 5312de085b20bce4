package graft.operators

import org.apache.spark.sql.DataFrame

object Partitions {

  /** Spread a narrow input across all cores before per-row-heavy work:
    * a one-file parquet scan is one partition, so its map side would run
    * single-threaded (the shingle explode: 4.6 s → 0.4 s at sf0.1). The
    * identity when the input already has enough splits (the 100 TB
    * case), where a repartition would shuffle the corpus for nothing.
    * The count is read off the frame's own plan (`queryExecution.toRdd`);
    * `df.rdd` plans the lineage a second time.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target)
    else df
  }
}
