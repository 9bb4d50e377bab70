package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType

/** Parquet schema inference without the Spark job that runs it.
  *
  * `spark.read.parquet(files)` infers its schema at PLAN time by
  * submitting a job that opens the files' footers on executors
  * (`ParquetFileFormat.mergeSchemasInParallel`). The snapshot format
  * records each data file's schema in its manifest instead, read once
  * from the footer the commit already opens for its row census. These
  * two helpers apply inference's own conversion and merge rules to
  * such footers and recorded schemas, so a read built from them sees
  * the schema inference would have produced. They live in Spark's
  * parquet package because `ParquetFileFormat.readSchema` and
  * `StructType.merge` are package-private. */
object GraftParquetSchema {

  /** The Spark schema of one parquet file, from its footer, converted
    * as inference converts it: the writer's stored Spark schema when
    * the footer carries one, else the parquet message type under the
    * session's conversion flags. */
  def fromFooter(spark: SparkSession, path: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchema(Seq(new Footer(path, footer)), spark).get

  /** `schemas` merged in the order given, as `mergeSchema` merges the
    * per-file schemas of a scan (ordered by path): a left fold of
    * `StructType.merge` under the session's case sensitivity. Fields
    * keep their first appearance's position; incompatible types fail
    * with inference's CANNOT_MERGE_SCHEMAS error. */
  def merge(spark: SparkSession, schemas: Seq[StructType]): StructType = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    schemas.reduceLeft { (a, b) =>
      try a.merge(b, caseSensitive)
      catch {
        case cause: SparkException =>
          throw QueryExecutionErrors.failedMergingSchemaError(a, b, cause)
      }
    }
  }
}
