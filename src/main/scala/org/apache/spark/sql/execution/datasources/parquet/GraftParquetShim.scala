package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[parquet]` footer-to-schema conversion, so
  * the engine derives a file's schema exactly as Spark's own inference
  * does (the serialized Spark schema when the writer stored one, else the
  * parquet schema through the session's converter settings) without
  * re-implementing it. Kept to the single call the engine needs. */
object GraftParquetShim {

  /** The schema Spark's inference reads from `footers` (merged when more
    * than one); None for an empty list. */
  def readSchema(footers: Seq[Footer], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
