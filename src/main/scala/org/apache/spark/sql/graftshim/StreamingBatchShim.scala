package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one `private[sql]` seam a v1 streaming `Source` needs: the engine
  * asserts `isStreaming=true` on every `getBatch` result, and the only way
  * to stamp that flag onto an arbitrary COMPUTED DataFrame (ours is a
  * manifest-diff join, not a file scan) is `LogicalRDD(..., isStreaming =
  * true)` + `Dataset.ofRows` — both `private[sql]`. This object lives in an
  * `org.apache.spark.sql` subpackage purely to reach them, the same pattern
  * every out-of-tree source provider uses (Spark's own file/Kafka sources
  * call the equivalent `internalCreateDataFrame(..., isStreaming = true)`).
  * Nothing else of graft lives outside the `graft` namespace. The later
  * members reach the same package's other internals: a Column's
  * expression, and parquet schema inference for the log store's reads.
  */
object StreamingBatchShim {

  /** `df`'s rows as a streaming-flagged DataFrame. Plans `df` eagerly
    * (per micro-batch — the same cost profile as a file source resolving
    * its batch relation); execution still runs lazily when the sink
    * consumes the batch.
    */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val session = ds.sparkSession.asInstanceOf[SparkSession]
    val qe = ds.queryExecution
    Dataset.ofRows(session,
      LogicalRDD(qe.analyzed.output, qe.toRdd, isStreaming = true)(session))
  }

  /** Rebinds a v1 `Sink.addBatch` DataFrame to a plain batch plan over its
    * own executed rows: the engine hands addBatch a DataFrame tied to the
    * micro-batch's IncrementalExecution, and re-planning it through a
    * normal write action (as the snapshot sink's `append` does) is the
    * classic v1-sink pitfall — `toRdd` once, wrap the rows. The inverse
    * direction of [[asStreamingBatch]].
    */
  def asBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val session = ds.sparkSession.asInstanceOf[SparkSession]
    val qe = ds.queryExecution
    Dataset.ofRows(session,
      LogicalRDD(qe.analyzed.output, qe.toRdd, isStreaming = false)(session))
  }

  /** The Catalyst expression a Column wraps (`ExpressionUtils.expression`
    * is `private[sql]` since the 4.x Column/ColumnNode split). Used by the
    * snapshot store's stats pruning to walk a user predicate's tree —
    * read-only inspection, no plan surgery.
    */
  def expressionOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The data schema Spark's parquet inference derives from `footers`
    * (`ParquetFileFormat.mergeSchemasInParallel`), computed here from
    * footers the caller already read on the driver, so no inference job
    * runs. Same rule: a footer's `org.apache.spark.sql.parquet.row.metadata`
    * JSON when present, else its parquet schema through
    * `ParquetToSparkSchemaConverter` under the session conf; the schemas
    * then fold left with `StructType.merge` under the session's case
    * sensitivity. The session conf and `merge` are `private[sql]`.
    */
  def parquetSchema(
      session: org.apache.spark.sql.SparkSession,
      footers: Seq[org.apache.parquet.hadoop.metadata.FileMetaData])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val conf = session.asInstanceOf[SparkSession].sessionState.conf
    val converter = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)
    val metadataKey = org.apache.spark.sql.execution.datasources.parquet
      .ParquetReadSupport.SPARK_METADATA_KEY
    footers.map { f =>
      Option(f.getKeyValueMetaData.get(metadataKey))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
        .getOrElse(converter.convert(f.getSchema))
    }.reduceLeft { (merged, next) =>
      try merged.merge(next, conf.caseSensitiveAnalysis)
      catch {
        case e: org.apache.spark.SparkException => throw org.apache.spark.sql
          .errors.QueryExecutionErrors.failedMergingSchemaError(merged, next, e)
      }
    }
  }

}
