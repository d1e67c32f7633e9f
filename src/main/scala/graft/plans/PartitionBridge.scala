package org.apache.spark.sql.execution.datasources.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningUtils}

/** `PartitioningUtils.parsePartitions` is `private[datasources]`; this
  * subpackage is the narrowest scope that can call it.
  */
object PartitionBridge {

  /** Spark's own partition discovery over explicit leaf directories
    * under `base` — the inference `InMemoryFileIndex` runs after its
    * listing, here with no filesystem access: column types from the
    * session's partition-value inference
    * (`spark.sql.sources.partitionColumnTypeInference.enabled`),
    * conflicting types resolved by Spark's upcast rules, values
    * unescaped and typed per directory.
    */
  def parse(spark: SparkSession, base: Path, leafDirs: Seq[Path])
      : PartitionSpec = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(leafDirs,
      conf.partitionColumnTypeInferenceEnabled, Set(base), None,
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
  }
}
