package graft.util

import org.apache.spark.sql.{DataFrame, Row}

/** The one bounded driver-side collect: every operator that pulls a
  * frame onto the driver (a gazetteer index, a document-format export,
  * a benchmark's shingle hashes) goes through [[bounded]], so driver
  * memory is capped by contract and a breach fails loudly at the
  * collect instead of as a mid-job driver OOM.
  */
object Collect {

  /** At most `cap` rows of `df`, or an `IllegalArgumentException` that
    * names `caller` and `cap` (with `remedy` appended). One job: an
    * UNTYPED `limit(cap + 1).collect()`, so the limit stays the top
    * operator and Spark's CollectLimit incremental-take fast path
    * applies — a typed collect would plan the deserializer above the
    * limit and pay a single-partition exchange. At most `cap + 1` rows
    * ever reach the driver, also when the bound is breached.
    */
  def bounded(df: DataFrame, cap: Long, caller: String, remedy: String): Array[Row] = {
    require(cap >= 0 && cap < Int.MaxValue, s"$caller: collect cap $cap out of range")
    val rows = df.limit((cap + 1).toInt).collect()
    require(rows.length <= cap,
      s"$caller would collect more than $cap rows to the driver; $remedy")
    rows
  }
}
