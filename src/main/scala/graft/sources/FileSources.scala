package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch file sources/sinks beyond parquet: CSV, JSON-lines, ORC.
  *
  * Readers take an explicit schema — at 100 TB schema inference is a
  * full extra pass over the data; an engine never infers in production.
  * CSV/JSON land as row formats for interchange; ORC/parquet are the
  * columnar formats that support pushdown and pruning (reflected in
  * `.explain`: PushedFilters appear for orc/parquet scans only).
  */
object FileSources {

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Raw text-lines source: one row per line, single `value` column —
    * the ingest path for raw corpora before any parsing. `wholetext`
    * (one row per FILE) is the document-per-file variant. */
  def readTextLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  def readWholeTextFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)

  /** Binary-asset source for the multimodal path: one row per file with
    * (path, modificationTime, length, content) — `content` feeds
    * graft.multimodal decode/feature stages as the opaque payload
    * column. `pathGlobFilter` selects by extension WITHOUT opening
    * files; `maxBytesPerFile` guards the driver against a stray huge
    * asset in the listing (oversize files are excluded by filter, never
    * read). */
  def readBinaryAssets(spark: SparkSession, path: String,
                       globFilter: Option[String] = None,
                       maxBytes: Option[Long] = None): DataFrame = {
    val base = globFilter.foldLeft(spark.read.format("binaryFile")) {
      (r, g) => r.option("pathGlobFilter", g)
    }.load(path)
    maxBytes.foldLeft(base)((df, mb) =>
      df.filter(org.apache.spark.sql.functions.col("length") <= mb))
  }

  /** Hive-style partitioned parquet layout: one directory per value of
    * `partCol`. The repartition-on-key before the write gives ONE file
    * per partition value instead of numShufflePartitions × values small
    * files — the small-file explosion is the classic partitioned-write
    * mistake at scale. Reads that filter on `partCol` prune whole
    * directories before any IO (`PartitionFilters` in the scan,
    * asserted by LayoutSpec). */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.repartition(org.apache.spark.sql.functions.col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Sort the rows of each output file by `sortCols` before writing:
    * parquet row-group min/max statistics then make selective filters
    * skip row groups (`PushedFilters` actually prune IO, not just rows).
    * Use a Z-order key (graft.functions.expressions.zorder_key) as the
    * sort column to get locality in TWO dimensions at once. */
  def writeSorted(df: DataFrame, path: String,
                  sortCols: Seq[org.apache.spark.sql.Column]): Unit =
    df.sortWithinPartitions(sortCols: _*).write.mode("overwrite").parquet(path)
}
