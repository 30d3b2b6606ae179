package graft.sources

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.emit.TripleEmitter
import graft.model.Page

/** Thin table facade over the parquet page store (SURVEY.md §7.0:
  * "Iceberg is represented by a TripleStore/PageStore facade over
  * partitioned Parquet — identical read/write surface").
  *
  * The layout rules are the scale-relevant part:
  *  - pages partition by the run's own [[TripleEmitter.bucketOf]] over
  *    `url` — content-derived, never positional, so writes are
  *    deterministic under any parallelism and resume keys are stable;
  *  - the BINARY `html` column lives in its own parquet column so any
  *    reader that doesn't select it never deserializes it (input_hint:
  *    html dominates page size — PlanAuditSpec pins this);
  *  - readers get plain DataFrames/Datasets with the store's fixed
  *    schema (no inference job); all pruning/pushdown is Catalyst's.
  */
object PageStore {

  def write(pages: Dataset[Page], path: String, nBuckets: Int = 64,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    pages.toDF()
      .withColumn("bucket", TripleEmitter.bucketOf(col("url"), nBuckets))
      .write.mode(mode).partitionBy("bucket").parquet(path)

  /** The store's columns: [[Page]]'s and the `bucket` partition.
    * Reads give this schema, so they start no schema inference job.
    */
  private val schema = Encoders.product[Page].schema.add("bucket", IntegerType)

  def read(spark: SparkSession, path: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.schema(schema).parquet(path)
      .select("url", "warc_ts", "html", "text", "lang").as[Page]
  }

  /** Bucket-pruned read (resume path): pushes a partition filter so
    * finished buckets are never scanned.
    */
  def readBuckets(spark: SparkSession, path: String, buckets: Seq[Int]): Dataset[Page] = {
    import spark.implicits._
    spark.read.schema(schema).parquet(path)
      .filter(col("bucket").isin(buckets: _*))
      .select("url", "warc_ts", "html", "text", "lang").as[Page]
  }
}
