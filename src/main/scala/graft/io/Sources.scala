package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface of the engine. The reference reads parquet
  * tables and CSV point files (duckpipe/test/example.py reads
  * data/sample_point_korea.csv) and targets cloud object storage
  * (core.py connect_cloud_storage) — in graft all of that is Spark's
  * datasource layer: same API against local FS, HDFS or s3a/gs/abfs
  * URIs, so "cloud support" is a path scheme, not a code path.
  */
object Sources {

  /** Schema-applied CSV ingest (header, typed columns — the reference's
    * point-table CSV shape). Explicit schema keeps the read one-pass
    * (no inference scan) — mandatory at 100 TB.
    *
    * `multiLine = false` (the default) keeps files line-splittable so a
    * 100 TB read parallelizes WITHIN files; it cannot parse quoted
    * embedded newlines. Pass `multiLine = true` for data whose string
    * columns may contain newlines — each file then parses as one task,
    * so shard such data into many files. Whitespace at value edges is
    * preserved either way (reader defaults already keep it; the writer
    * side must disable its trimming — see writeCsv). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              multiLine: Boolean = false): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("multiLine", multiLine).csv(path)

  /** Lossless CSV sink: Spark's CSV writer TRIMS leading/trailing
    * whitespace by default (ignoreLeading/TrailingWhiteSpace default
    * true on WRITE, unlike read) — silent data mangling for real text.
    * Disable both so `readCsv(writeCsv(df)) == df` character-exactly;
    * embedded newlines are quoted by the writer and need
    * `readCsv(..., multiLine = true)` to come back. */
  def writeCsv(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** JSON-lines ingest with explicit schema. */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Hive-style partitioned parquet sink. Partition columns become
    * directories → readers prune partitions from WHERE clauses without
    * touching data files. Returns the schema the sink reads back as:
    * the data columns, then the partition columns, all typed as
    * written. `spark.read.schema(it)` infers nothing, so the read-back
    * runs no job and also works on an empty sink, which has no footer
    * to infer from. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): StructType = {
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
    StructType(df.schema.filterNot(f => partitionCols.contains(f.name)) ++
      partitionCols.map(df.schema(_)))
  }

  /** Co-locate + order rows for downstream merge-friendly reads:
    * repartition on the join key and sort within partitions (the
    * save-path analogue of bucketing, without a metastore). */
  def writeClustered(df: DataFrame, path: String, key: String,
                     numPartitions: Int): Unit =
    df.repartition(numPartitions, col(key))
      .sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Columnar ORC round-trip — same datasource API surface as parquet
    * (predicate pushdown, column pruning, vectorized read); useful
    * when the lake standardizes on ORC. */
  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** True metastore-backed bucketed table: two tables bucketed the
    * same way on their join keys join with NO exchange on either side
    * — the pre-shuffled layout big recurring joins want at 100 TB
    * (pay the shuffle once at write time, never per query). `path`
    * makes it an external table so the data location is explicit. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .format("parquet").saveAsTable(table)
}
