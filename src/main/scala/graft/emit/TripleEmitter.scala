package graft.emit

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.model.{Lineage, Triple}

/** The parquet triple store: content dedup, the bucket function, the
  * bucket-partitioned materialize with per-partition lineage rows
  * (north rule), the resume index and the store's filesystem checks.
  * RDF text syntax lives in [[Serializer]].
  */
object TripleEmitter {

  /** Content-identity dedup over the full quad (SURVEY.md §2.1 D1). */
  def dedup(triples: DataFrame): DataFrame =
    triples.dropDuplicates("s", "p", "o_kind", "o_lex", "o_datatype", "o_lang", "g")

  /** Deterministic page/triple bucket — identity from content (url),
    * NEVER from physical row position (SURVEY.md §4.3).
    */
  def bucketOf(c: Column, n: Int): Column = {
    require(n > 0, s"bucket count must be positive, got $n")
    pmod(xxhash64(c), lit(n)).cast("int")
  }

  /** Materialize triples partitioned by bucket + commit lineage rows.
    * Lineage is the completion signal AND the resume index (replaces
    * the reference's delete-the-inputs signal, src/cattle_process.py:18-29).
    *
    * Crash-safety contract: lineage commits LAST. A run appends every
    * other data table for its buckets (the same-as edges) before this
    * call, which appends the triples and then commits lineage. A run
    * killed before the commit leaves ORPHANED rows with no lineage row:
    * the bucket is not in [[doneBuckets]], re-runs on resume and appends
    * a second copy — harmless, because stage B's content dedup collapses
    * duplicate triples and duplicate edges leave the components as they
    * were (the crash specs). Any other order is unsafe: a lineage row
    * without its triples or edges silently loses them.
    */
  def writeStage(
      spark: SparkSession,
      triples: DataFrame,
      outDir: String,
      ruleSetHash: String,
      runId: String): Unit = {
    val t = triples.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t.write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$outDir/triples")
    val lineage = t.groupBy("bucket").agg(
      count(lit(1)).as("triples"),
      countDistinct(col("s")).as("subjects"))
      .withColumn("rule_set_hash", lit(ruleSetHash))
      .withColumn("run_id", lit(runId))
      .withColumn("status", lit("ok"))
      .select(lineageSchema.fieldNames.map(col).toSeq: _*)
    lineage.coalesce(1).write.mode(SaveMode.Append).parquet(s"$outDir/lineage")
    t.unpersist()
  }

  /** The `lineage/` row, [[Lineage]]. */
  val lineageSchema: StructType = Encoders.product[Lineage].schema

  /** The store's lineage rows, read with [[lineageSchema]]: no schema
    * inference job before an action.
    */
  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(lineageSchema).parquet(s"$outDir/lineage")

  /** Buckets already materialized for this rule-set (resume skip).
    * Collected EAGERLY to the driver: a lazy DataFrame here would
    * re-read lineage after this run's own commits and silently empty
    * the remaining work; a literal `isin` filter is also
    * partition-prunable at the scan, which an anti-join is not. The
    * rows (≤ nBuckets per commit) are made distinct on the driver, not
    * by a shuffle.
    */
  def doneBuckets(spark: SparkSession, outDir: String, ruleSetHash: String): Set[Int] =
    if (!exists(spark, s"$outDir/lineage")) Set.empty
    else readLineage(spark, outDir)
      .filter(col("status") === "ok" && col("rule_set_hash") === ruleSetHash)
      .select("bucket")
      .collect().map(_.getInt(0)).toSet

  /** Every materialized triple (`s, p, o_kind, o_lex, o_datatype,
    * o_lang, g`), read with [[Triple]]'s schema: no schema inference
    * job before an action.
    */
  def readTriples(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(Encoders.product[Triple].schema.add("bucket", IntegerType))
      .parquet(s"$outDir/triples").drop("bucket")

  /** Every materialized same-as edge (`src, dst`), empty when the store
    * has none. The schema is explicit: a gazetteer-less run writes an
    * edge-free `edges/` (just `_SUCCESS`), where schema inference throws.
    */
  def readEdges(spark: SparkSession, outDir: String): DataFrame =
    if (exists(spark, s"$outDir/edges"))
      spark.read.schema("src STRING, dst STRING, bucket INT")
        .parquet(s"$outDir/edges").select("src", "dst")
    else spark.emptyDataFrame.select(lit("").as("src"), lit("").as("dst")).limit(0)

  /** Store existence check through the Hadoop FileSystem that `path`
    * resolves to, so plain paths and `file:`/`hdfs:` URIs answer alike
    * (`java.io.File` reads every URI as absent).
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A whole small file as UTF-8 text, read through the same Hadoop
    * FileSystem as [[exists]] (`Submit`'s descriptor and gazetteer).
    */
  def readString(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}
