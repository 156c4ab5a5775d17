package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Entity mapping onto the reference's data model
  * (/root/reference/src/models/{job,contact,issue}.py):
  *   jobs     → orders    (o_orderkey = job_id, o_custkey = user_id,
  *                         o_orderdate = created_at, o_orderstatus = status)
  *   staging  → lineitem  (l_orderkey = staging_job_id, (l_orderkey,l_linenumber) = staging_id)
  *   contacts → customer  (c_custkey = contact_id, c_name → email derivation)
  *   events/documents/embeddings back the streaming + LLM-pipeline operators.
  *
  * All loads are plain parquet scans so Catalyst can push filters/projections
  * into the file source (verified via explain: PushedFilters/ReadSchema).
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table by name; `events` goes through [[events]]' TIMESTAMP(NANOS)
    * normalization, every other table is a [[scan]]. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else scan(spark, dir, name)

  /** Plain parquet scan, with one normalization: driver testdata generations
    * differ in whether temporal columns are annotated isAdjustedToUTC
    * (→ TIMESTAMP) or not (→ TIMESTAMP_NTZ, which Spark 4 refuses to cast to
    * numeric types, breaking every ts.cast("long") operator). Disabling NTZ
    * schema inference makes the reader surface BOTH annotations as TIMESTAMP
    * (micros preserved exactly; sessions run in UTC). Done via conf rather
    * than a post-read cast so temporal predicates still push down to the
    * scan — a cast-wrapped column would lose PushedFilters entirely, which
    * at 100 TB means reading every row group instead of pruning on stats.
    * Session-level and intentionally left set, same contract as the
    * nanosAsLong conf in [[events]]. */
  private def scan(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects; read it as raw nanos (legacy conf) and convert to a micros
    * timestamp (truncation — same as DuckDB's ns→µs cast).
    *
    * Note the nanosAsLong conf is session-level and INTENTIONALLY left set:
    * restoring it after the (lazy) load would race plan execution, and for
    * this engine "nanos parquet loads as long" is the desired behavior
    * everywhere rather than a hard analysis error. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = scan(s, d, "events")
    // driver testdata carries TIMESTAMP(NANOS) (surfaces as long under the
    // legacy conf); re-written copies are already proper timestamps
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
