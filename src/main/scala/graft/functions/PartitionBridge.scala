package org.apache.spark.sql.execution.datasources.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitioningUtils, PartitionSpec}

/** Bridge into Spark's Hive partition-path parser
  * (`PartitioningUtils.parsePartitions` is `private[datasources]`).
  */
object PartitionBridge {

  /** The Hive partitioning of `dirs` under `base` — Spark's own parse,
    * with the session's type inference, validation and time zone, as a
    * file listing of `base` would infer it.
    */
  def partitionSpec(spark: SparkSession, dirs: Seq[Path],
                    base: Path): PartitionSpec = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(dirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(base), userSpecifiedSchema = None,
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths)
  }
}
