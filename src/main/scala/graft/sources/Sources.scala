package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source library — the Spark re-expression of the reference's source surface
  * (reference: smartpipeline/stage.py:119-146 `Source`,
  * smartpipeline/helpers.py:10-32 `LocalFilesSource`,
  * examples/dump_es_ids.py:25-39 file-line source).
  *
  * Arbitrary pull-based `pop()` sources map to Spark's batch readers for
  * bounded data and `readStream` for unbounded; a custom connector would be a
  * DataSourceV2 `TableProvider`. Everything here returns a plain DataFrame so
  * filters/pruning push into the scan.
  */
object Sources {

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  /** ORC — same pushdown/pruning properties as parquet (built-in reader). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSONL. Pass `schema` in production: inference costs a FULL extra
    * scan of the data before the real one (and collapses to an empty
    * schema on an empty dump) — at 100 TB the schema is a contract you
    * already know, not something to rediscover per job. */
  def jsonl(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).json(path)

  /** JSONL with per-record error capture: malformed lines survive as rows
    * with the raw text in `_corrupt_record` instead of failing the read —
    * the source-side analog of the pipeline's soft-error channel
    * (reference: ErrorSource semantics, tests/utils.py:61-69; per-item
    * capture docs/usage.rst:106-111). Pair with
    * `filter(col("_corrupt_record").isNotNull)` as the error sink feed.
    * NOTE: a query projecting ONLY `_corrupt_record` must cache/persist
    * first (Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction). */
  def jsonlWithErrors(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** One record per non-empty line, like the reference's file-line source
    * (examples/dump_es_ids.py:25-39 skips blank lines). */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .withColumnRenamed("value", "line")

  /** Directory listing source (reference: helpers.py:10-32): one record per
    * non-hidden file matching the postfix; `path` column plays the role of
    * `FilePathItem.path`, `id` its basename (helpers.py:44-49). Reads file
    * bytes lazily via binaryFile so large corpora scan in parallel. */
  def localFiles(spark: SparkSession, dir: String, postfix: String = ""): DataFrame = {
    val glob = if (postfix.nonEmpty) s"*$postfix" else "*"
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .filter(!element_at(split(col("path"), "/"), -1).startsWith("."))
      .withColumn("id", element_at(split(col("path"), "/"), -1))
  }

  /** File contents as text per file (the reference's TextExtractor pattern,
    * FIXTURES.md §1.4): path + whole-file text. */
  def wholeTextFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true").text(dir)
      .withColumn("path", input_file_name())
      .withColumnRenamed("value", "text")
}

/** Sink library (reference: examples/dump_es_ids.py:83-89 JSONL dump,
  * docs/usage.rst:285-295 ES indexer). Bulk-index-style sinks become
  * `foreachPartition` with connection reuse; files are native writers. */
object Sinks {
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Hive-style partitioned layout: one directory per distinct value of
    * `partitionCols`. The 100 TB data-layout lever: a filter on a partition
    * column prunes whole directories at planning time (the scan's
    * `PartitionFilters`), so a per-language / per-day query reads only its
    * slice — verified by plan-shape test (SourcesSpec). Keep partition
    * columns low-cardinality (lang, date), never high-cardinality ids. */
  def parquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Dynamic partition overwrite — the DAILY-INGEST contract for the
    * partitioned layout: replaces ONLY the partitions present in `df`,
    * leaving every other directory untouched. At 100 TB this is the
    * difference between "append today" costing |today| and costing
    * |history|; a re-run of a failed day is idempotent (it replaces
    * exactly that day's directory, never duplicating rows). Static
    * overwrite ([[parquetPartitioned]]) rebuilds the WHOLE layout — use
    * it for the initial backfill, this for the steady-state ingest. */
  def parquetPartitionedUpsert(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Per-partition push sink with connection lifecycle — the ES-indexer
    * pattern (docs/usage.rst:285-295): `open` once per partition, `send` per
    * record, `close` at the end. */
  def foreachSink[C](df: DataFrame)(open: () => C)(send: (C, org.apache.spark.sql.Row) => Unit)(
      close: C => Unit): Unit =
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val client = open()
      try it.foreach(send(client, _))
      finally close(client)
    }
}
