package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** The reference's data-quality rules (IssueType,
  * /root/reference/src/models/issue.py:12-17) plus the issue-lifecycle
  * update/merge/delete semantics of the repositories.
  *
  * All detections are set-based single-pass plans — no per-row lookups:
  *  - DUPLICATE_EMAIL: one hash-aggregate on the (batch, key) pair.
  *  - INVALID_EMAIL:   a codegen'd regex predicate, pushdown-friendly.
  *  - EXISTING_EMAIL:  LEFT ANTI join with the contacts side broadcast —
  *                     at 100 TB this is the only shape that avoids an
  *                     all-to-all shuffle of the fact table when the known-
  *                     contacts side fits in memory; if it doesn't, Spark
  *                     falls back to a shuffled anti-join, still set-based.
  *  - MISSING_REQUIRED_FIELD: null/blank predicate, no shuffle at all.
  */
object Issues {

  /** DUPLICATE_EMAIL (issue.py:14): duplicate key within one batch/job.
    * One shuffle on (batchCol, keyCol); partial aggregation combines map-side. */
  def duplicateKeys(df: DataFrame, batchCol: String, keyCol: String): DataFrame =
    df.groupBy(batchCol, keyCol).agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
      .orderBy(batchCol, keyCol)

  /** INVALID_EMAIL (issue.py:15): anchored-regex format check, vectorized. */
  def invalidEmails(df: DataFrame, emailCol: String): DataFrame =
    df.filter(!Cols.emailValid(col(emailCol)))

  /** EXISTING_EMAIL (issue.py:16): staging keys already present in contacts.
    * `existing` is broadcast (dim-sized); returns staging rows that are new
    * when `anti=true` (the promote path) or the clashing ones when false. */
  def existingKeys(staging: DataFrame, existing: DataFrame,
                   stagingKey: String, existingKey: String,
                   anti: Boolean): DataFrame = {
    val joinType = if (anti) "left_anti" else "left_semi"
    staging.join(broadcast(existing), col(stagingKey) === col(existingKey), joinType)
  }

  /** MISSING_REQUIRED_FIELD (issue.py:17): any of the required columns
    * null/blank. Pure predicate — stays in the scan stage. */
  def missingRequired(df: DataFrame, requiredCols: Seq[String]): DataFrame =
    df.filter(requiredCols.map(c => Cols.isBlank(col(c))).reduce(_ || _))

  /** Issue-resolution update (issue_repository.py:258-327) as a columnar
    * transform: resolving stamps resolved_at when absent; unresolving clears
    * resolved_at/resolved_by (mirrors :293-301). */
  def resolve(issues: DataFrame, resolvedCol: String, setResolved: Boolean,
              resolvedBy: String, nowCol: org.apache.spark.sql.Column): DataFrame = {
    if (setResolved)
      issues
        .withColumn("issue_resolved_at",
          coalesce(col("issue_resolved_at"), nowCol))
        .withColumn("issue_resolved_by", lit(resolvedBy))
        .withColumn(resolvedCol, lit(true))
    else
      issues
        .withColumn("issue_resolved_at", lit(null).cast("timestamp"))
        .withColumn("issue_resolved_by", lit(null).cast("string"))
        .withColumn(resolvedCol, lit(false))
  }

  /** Staging edit / upsert (staging_repository.py:72-131) as a batch MERGE:
    * base LEFT JOIN updates on the key, COALESCE updated fields. The updates
    * side is expected dim-sized → broadcast; base never moves. */
  def mergeUpdates(base: DataFrame, updates: DataFrame, keys: Seq[String],
                   updatedCols: Map[String, String]): DataFrame = {
    val joined = base.as("b").join(broadcast(updates.as("u")),
      keys.map(k => col(s"b.$k") === col(s"u.$k")).reduce(_ && _), "left")
    val projected = base.columns.map { c =>
      updatedCols.get(c) match {
        case Some(uc) => coalesce(col(s"u.$uc"), col(s"b.$c")).as(c)
        case None     => col(s"b.$c").as(c)
      }
    }
    joined.select(projected.toIndexedSeq: _*)
  }

  /** Status-gated delete (job_repository.py:186-284): rows NOT in a deletable
    * status survive; the cancel removes only PENDING/NEEDS_REVIEW/FAILED. */
  def conditionalDelete(df: DataFrame, statusCol: String,
                        deletableStatuses: Seq[String]): DataFrame =
    df.filter(!col(statusCol).isin(deletableStatuses: _*))

  /** Referential-integrity audit: count fact rows whose FK has no parent —
    * the ingest-QA generalization of the FK constraints Postgres enforced
    * for the reference (issue_items → staging/issues, staging → jobs) that
    * a lake has to CHECK instead. One anti-join + 1-row count per edge;
    * SQL semantics: a NULL FK is "no reference", not a violation. Dim keys
    * are distinct'd first so the anti-join probe side is key-sized; AQE
    * picks broadcast when that fits. */
  def orphanCounts(name: String, fact: DataFrame, factKey: String,
                   dim: DataFrame, dimKey: String): DataFrame = {
    val f = fact.select(col(factKey).as("__k")).filter(col("__k").isNotNull)
    val d = dim.select(col(dimKey).as("__k")).distinct()
    f.join(d, Seq("__k"), "left_anti")
      .agg(count(lit(1)).as("orphan_n"))
      .select(lit(name).as("relationship"), col("orphan_n"))
  }

  /** Missing-partition (backfill) detector: the expected (source, day)
    * spine — every source × every calendar day in the data's span —
    * minus what actually landed. THE morning-after ops question ("which
    * partitions didn't arrive?") as one anti-join; feed the output
    * straight to a backfill scheduler. The spine derives from one global
    * min/max action; actual (source, day) pairs collapse to a
    * partition-count-sized distinct before the anti-join, so nothing
    * row-sized crosses the wire twice. */
  def missingPartitions(df: DataFrame, sourceCol: String,
                        tsCol: String): DataFrame = {
    val day = date_format(col(tsCol), "yyyy-MM-dd")
    val b = df.agg(min(to_date(col(tsCol))), max(to_date(col(tsCol)))).head()
    val (lo, hi) = (b.getDate(0), b.getDate(1))
    val spine = df.select(col(sourceCol).as("source")).distinct()
      .crossJoin(broadcast(
        df.sparkSession.range(1).select(explode(sequence(
          lit(lo), lit(hi), expr("INTERVAL 1 DAY"))).as("d"))))
      .select(col("source"), date_format(col("d"), "yyyy-MM-dd").as("day"))
    val actual = df.select(col(sourceCol).as("source"), day.as("day")).distinct()
    spine.join(actual, Seq("source", "day"), "left_anti")
      .orderBy("source", "day")
  }

  /** Row-level data-contract expectations (the dbt-test / Great-
    * Expectations shape): each rule is a predicate that should HOLD; the
    * report gives per-rule violation counts, pass rates, and a go/no-go
    * flag — the generalization of the reference's fixed issue taxonomy
    * (DUPLICATE/INVALID/MISSING) to arbitrary caller-declared contracts.
    * A NULL predicate result counts as a violation (a rule that cannot
    * evaluate did not hold).
    *
    * ALL rules ride ONE scan (a single conditional-count aggregate row —
    * map-side combined, K+1 longs cross the wire); the melt to rows is
    * driver-side over that contract-small row. */
  def expectationReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val aggs = count(lit(1)).as("__n") +: rules.map { case (n, p) =>
      count(when(!coalesce(p, lit(false)), lit(1))).as(s"__v_$n") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val spark = df.sparkSession
    import spark.implicits._
    val n = row.getAs[Long]("__n")
    rules.map { case (name, _) => (name, n, row.getAs[Long](s"__v_$name")) }
      .toDF("rule", "n_rows", "n_violations")
      .select(col("rule"), col("n_rows"), col("n_violations"),
        (lit(1.0) - col("n_violations").cast("double") / col("n_rows").cast("double"))
          .as("pass_rate"),
        (col("n_violations") === 0).as("passed"))
      .orderBy("rule")
  }
}
