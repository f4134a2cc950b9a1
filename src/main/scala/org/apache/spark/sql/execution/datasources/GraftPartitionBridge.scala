package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

/**
 * Bridge into `private[datasources]` partition parsing, so a file index
 * that discovers partition directories its own way types their values
 * exactly as Spark's inference does (`_index=7` is an int column there).
 */
object GraftPartitionBridge {
  def parsePartitions(paths: Seq[Path], typeInference: Boolean, basePaths: Set[Path],
                      userSpecifiedSchema: Option[StructType], caseSensitive: Boolean,
                      validatePartitionColumns: Boolean, timeZoneId: String,
                      ignoreInvalidPartitionPaths: Boolean): PartitionSpec =
    PartitioningUtils.parsePartitions(paths, typeInference, basePaths,
      userSpecifiedSchema, caseSensitive, validatePartitionColumns, timeZoneId,
      ignoreInvalidPartitionPaths)
}
