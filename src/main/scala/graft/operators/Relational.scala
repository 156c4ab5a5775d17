package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-native analogs of the reference's repository query surface
  * (/root/reference/src/app/repository/ modules).
  *
  * Scale notes (designed for 1000-executor / 100 TB, tested on local[32]):
  *  - Every dim-vs-fact join broadcasts the dimension (orders filtered by one
  *    user, part, customer, nation are all ≪ the fact side). AQE would often
  *    pick this anyway; we make it explicit so the plan is stable.
  *  - Aggregates that the reference computes with three separate COUNT queries
  *    (issue_repository.py:108-115) are a single grouped conditional aggregate
  *    here — one scan + one shuffle instead of three scans.
  *  - Point lookups / key filters are plain pushed-down predicates: the parquet
  *    scan shows them under PushedFilters, so row groups are skipped at the
  *    source. On a real deployment the fact tables would additionally be
  *    bucketed/partitioned by the filter key.
  */
object Relational {

  /** get_all_jobs filtered by user, newest first (job_repository.py:31-43). */
  def jobsByUser(orders: DataFrame, userId: Long): DataFrame =
    orders.filter(col("o_custkey") === userId)
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)

  /** get_all_jobs with BOTH predicates — user_id AND request_id
    * (job_repository.py:19-43 applies them together when request_id is
    * given). Same operator shape as [[jobsByUser]]; the compound predicate
    * pushes down to the scan as two conjunctive filters. `o_orderpriority`
    * stands in for the reference's request scoping. */
  def jobsByUserAndRequest(orders: DataFrame, userId: Long, request: String): DataFrame =
    orders.filter(col("o_custkey") === userId && col("o_orderpriority") === request)
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)

  /** get_job_by_id point lookup (job_repository.py:57-74). */
  def jobById(orders: DataFrame, jobId: Long): DataFrame =
    orders.filter(col("o_orderkey") === jobId)

  /** get_all_contacts_by_user_id sorted listing (contact_repository.py:35-40). */
  def contactsListing(customer: DataFrame): DataFrame =
    customer.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))

  /** count_jobs per user (job_repository.py:77-93), grouped in one pass. */
  def countJobs(orders: DataFrame): DataFrame =
    orders.groupBy("o_custkey").agg(count(lit(1)).as("n_jobs"))
      .orderBy("o_custkey")

  /** count_issues total/resolved/unresolved (issue_repository.py:80-115).
    * The reference issues 3 SQL COUNTs; this is one grouped conditional agg —
    * one scan, one shuffle, exact at any scale. */
  def conditionalCounts(orders: DataFrame): DataFrame =
    orders.groupBy("o_custkey").agg(
      count(lit(1)).as("total_cnt"),
      // count(when…) not sum(when…): COUNT is BIGINT in both Spark and the
      // DuckDB oracle (DuckDB SUM(int) would be HUGEINT → schema mismatch)
      count(when(col("o_orderstatus") === "F", 1)).as("resolved_cnt"),
      count(when(col("o_orderstatus") =!= "F", 1)).as("unresolved_cnt"))
      .orderBy("o_custkey")

  /** issues ⋈ jobs filtered by user (issue_repository.py:138-147).
    * The filtered jobs side is tiny → broadcast; fact side never shuffles. */
  def issuesJoinJobs(lineitem: DataFrame, orders: DataFrame, userId: Long): DataFrame =
    lineitem.join(
        broadcast(orders.filter(col("o_custkey") === userId)
          .select("o_orderkey", "o_custkey", "o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
              "o_custkey", "o_orderstatus")
      .orderBy("l_orderkey", "l_linenumber")

  /** issues ⋈ issue_items ⋈ staging eager-load (issue_repository.py:57-66):
    * a 3-way join where both non-fact sides broadcast. */
  def threeWayJoin(orders: DataFrame, lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(orders.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select("p_partkey", "p_name")),
        col("l_partkey") === col("p_partkey"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("l_linenumber"),
              col("p_name"), col("l_quantity"))
      .orderBy("o_orderkey", "l_linenumber")

  /** get_contact_by_email point read (contact_repository.py:54-104). */
  def contactByEmail(customer: DataFrame, name: String): DataFrame =
    customer.filter(col("c_name") === name)
      .select("c_custkey", "c_name", "c_acctbal")

  /** Per-nation revenue rollup (the reference's per-user count endpoints,
    * generalized): fact joins broadcast dims, money math in DECIMAL so the
    * result is exact and independent of partial-aggregation order. */
  def groupRollup(lineitem: DataFrame, orders: DataFrame,
                  customer: DataFrame, nation: DataFrame): DataFrame = {
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount").cast("decimal(18,2)"))
    lineitem
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(rev).cast("decimal(18,4)").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Top-N per group via window (generalizes the newest-first listings). */
  def topNPerGroup(events: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events.select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= n).drop("rn")
      .orderBy("user_id", "event_id")
  }

  /** Top-N per group WITH TIES (rank, not row_number): every row tied with
    * the N-th keeps its place — "top 3 scores" rather than "3 rows", the
    * leaderboard semantic. Scores are floored to ints so ties genuinely
    * occur on continuous inputs. Spark's InferWindowGroupLimit covers
    * rank() too, so ≤N(+ties) rows per group survive map-side BEFORE the
    * exchange — same scale story as [[topNPerGroup]] (asserted in the plan
    * contract). */
  def topNPerGroupWithTies(events: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val score = floor(col("value")).cast("long")
    val w = Window.partitionBy("user_id").orderBy(score.desc)
    // cast AFTER the filter: the rank must stay a bare window attribute for
    // InferWindowGroupLimit to fire (the long cast matches DuckDB's BIGINT)
    events.select(col("user_id"), col("event_id"), score.as("score"),
        rank().over(w).as("rnk_i"))
      .filter(col("rnk_i") <= n)
      .select(col("user_id"), col("event_id"), col("score"),
        col("rnk_i").cast("long").as("rnk"))
      .orderBy("user_id", "rnk", "event_id")
  }

  /** Hourly event rollup — the batch twin of the streaming windowed agg
    * (see graft.streaming.EventStream); DECIMAL sum for exactness. */
  def eventsHourlyAgg(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total_value"))
      .orderBy("hour", "event_type")

  /** Nested export: per key, the sorted member list as one row — the shape
    * consumed by document stores / feature stores. collect_list is
    * order-nondeterministic under parallelism, so the array is sort_array'd
    * (and string-joined here: deterministic, oracle-comparable, and
    * splittable back losslessly for numeric members). */
  def nestedExport(orders: DataFrame): DataFrame =
    orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("order_keys"))
      .orderBy("o_custkey")

  /** Set-operation audience report: INTERSECT / EXCEPT over two behavior
    * cohorts in one pass — a full-outer join of the two distinct key sets
    * (each side one hash agg) instead of three separate set-op scans. */
  def cohortOverlap(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val a = events.where(col("event_type") === typeA).select("user_id").distinct()
      .withColumn("__a", lit(1))
    val b = events.where(col("event_type") === typeB).select("user_id").distinct()
      .withColumn("__b", lit(1))
    a.join(b, Seq("user_id"), "full_outer")
      .agg(
        count(when(col("__a").isNotNull && col("__b").isNotNull, 1)).as("n_both"),
        count(when(col("__a").isNotNull && col("__b").isNull, 1)).as("n_a_only"),
        count(when(col("__a").isNull && col("__b").isNotNull, 1)).as("n_b_only"))
  }

  /** Bloom-pruned semi join: a semi join where the fact side is pre-filtered
    * by a Bloom sketch of the (selective) dim keys BEFORE it shuffles —
    * Spark's own runtime-filter machinery ([[graft.functions.Native
    * .bloomFilterAgg]] / `bloomMightContain`), driven explicitly so the
    * pruning fires even where the optimizer's injection heuristics
    * (creationSideThreshold etc.) would decline. The build is a distributed
    * partial-merge aggregate and the probe is codegen'd right on top of the
    * scan, keeping pruning + whole-stage codegen intact. Shuffle volume
    * drops from |fact| to |matches| + fpp·|fact|; the exact semi join
    * settles false positives.
    *
    * Build and probe both hash `xxhash64(key)`, and xxhash64 of an int, a
    * long and a string spelling the same value all differ — so when the
    * key types differ, both sides are cast to their ANSI wider type first,
    * and keys with no common type fail loudly. That is the type the join
    * comparison itself casts to: a string meeting a number compares as
    * the number ("007" = 7) with ANSI on or off, where the non-ANSI
    * widening would hash it as the string "007". Same-typed keys hash as
    * they are. */
  def bloomPrunedSemiJoin(fact: DataFrame, dim: DataFrame,
                          factKey: String, dimKey: String,
                          expectedKeys: Long = 1000000L,
                          numBits: Long = 8388608L): DataFrame = {
    import graft.functions.Native
    import org.apache.spark.sql.catalyst.analysis.AnsiTypeCoercion
    val factType = fact.schema(factKey).dataType
    val dimType = dim.schema(dimKey).dataType
    val (factHashKey, dimHashKey) =
      if (factType == dimType) (col(factKey), col(dimKey))
      else {
        val wider = AnsiTypeCoercion.findWiderTypeForTwo(factType, dimType)
        require(wider.isDefined, s"bloomPrunedSemiJoin: keys $factKey " +
          s"(${factType.sql}) and $dimKey (${dimType.sql}) have no common type")
        (col(factKey).cast(wider.get), col(dimKey).cast(wider.get))
      }
    val sketch = dim
      .select(Native.bloomFilterAgg(xxhash64(dimHashKey), expectedKeys, numBits)
        .as("bf"))
      .head().getAs[Array[Byte]]("bf") // one binary blob — contract-small
    // the settle join keys the dim side under an internal alias so
    // factKey == dimKey (the common same-name join) resolves unambiguously
    val dimKeys = dim.select(col(dimKey).as("__graft_dim_key")).distinct()
    fact.filter(Native.bloomMightContain(lit(sketch), xxhash64(factHashKey)))
      .join(dimKeys, col(factKey) === col("__graft_dim_key"), "left_semi")
  }

  /** Keyset ("seek-method") pagination — the listing-endpoint shape the
    * reference's HTTP pagination implies, done the way OFFSET cannot scale:
    * page N+1 = rows strictly after the last-seen key tuple, in
    * (k1, k2, …) lexicographic order. The cursor tuple must end in a
    * unique key so every page is deterministic.
    *
    * The lexicographic seek predicate (k1 > a1) OR (k1 = a1 AND k2 > a2)…
    * is OR-shaped and opaque to parquet pruning, so a REDUNDANT conjunct
    * `k1 >= a1` rides along — that one reaches the scan as a pushed
    * min/max filter and skips every row group before the cursor. The
    * page itself is a global top-N (TakeOrderedAndProject): no full sort,
    * no OFFSET re-read of skipped pages. */
  def keysetPage(df: DataFrame, cursor: Seq[(String, Any)],
                 pageSize: Int): DataFrame = {
    require(cursor.nonEmpty && pageSize > 0, "cursor cols and pageSize > 0")
    val seek = cursor.indices.map { i =>
      (cursor.take(i).map { case (k, a) => col(k) === lit(a) } :+
        (col(cursor(i)._1) > lit(cursor(i)._2))).reduce(_ && _)
    }.reduce(_ || _)
    df.where(col(cursor.head._1) >= lit(cursor.head._2) && seek)
      .orderBy(cursor.map(c => col(c._1)): _*)
      .limit(pageSize)
  }

  /** Right-to-erasure impact audit (GDPR Art. 17 planning): given the
    * customers to forget, report per table how many rows the cascade
    * deletes vs retains — customer → orders(o_custkey) → lineitem(join
    * through the affected orderkeys). The dry-run a deletion job runs
    * before mutating anything; the real delete is the same semi-joins with
    * [[graft.sources.Sinks]]' overwrite. Reference analog: the
    * user-scoped delete surface (contact/job repositories' delete paths).
    *
    * Scale: the forget set broadcasts (it's a request batch, not a fact
    * table); lineitem is pruned by the affected-ORDER key set, which is
    * bounded by the forget batch's order fan-out. Each table contributes
    * one conditional-count scan — no shuffle beyond the semi-join keys. */
  def erasureAudit(forgetKeys: DataFrame, customer: DataFrame,
                   orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val keys = broadcast(forgetKeys.select(col("c_custkey").as("fk")).distinct())
    def audit(df: DataFrame, table: String, hit: Column): DataFrame =
      df.agg(count(when(hit, 1)).as("rows_to_delete"),
        count(when(!hit, 1)).as("rows_retained"))
        .select(lit(table).as("table_name"), col("rows_to_delete"),
          col("rows_retained"))
    val cust = audit(customer.join(keys,
      col("c_custkey") === col("fk"), "left"), "customer", col("fk").isNotNull)
    val ord = audit(orders.join(keys,
      col("o_custkey") === col("fk"), "left"), "orders", col("fk").isNotNull)
    val hitOrders = broadcast(orders.join(keys, col("o_custkey") === col("fk"))
      .select(col("o_orderkey").as("hk")).distinct())
    val li = audit(lineitem.join(hitOrders,
      col("l_orderkey") === col("hk"), "left"), "lineitem", col("hk").isNotNull)
    cust.unionAll(ord).unionAll(li).orderBy("table_name")
  }

  /** The EXECUTE half of [[erasureAudit]]'s detect→fix pair (the house
    * pattern: q182→q210 leakage, q171→q218 k-anonymity): the post-erasure
    * states of every table in the cascade, in FK order CHILD FIRST —
    * lineitem (children of affected orders), then orders (of forgotten
    * customers), then customer. Child-before-parent means an interrupted
    * run never leaves orphaned children, and because every step is an
    * ANTI-JOIN REWRITE the whole cascade is idempotent: replaying it on
    * the post-state deletes zero rows (RelationalSpec pins this).
    * Reference analog: s3_service.py:121 `delete_file` +
    * job_repository.py:186-284's FK-ordered delete-cascade, re-expressed
    * as immutable-lake rewrites instead of row DELETEs.
    *
    * Scale: the forget batch broadcasts; the affected-order key set is
    * bounded by the batch's fan-out and broadcasts too; each table is one
    * anti-join scan that rewrites in place via dynamic-partition overwrite
    * ([[graft.sources.Sinks.writeAudited]] meters the write with the
    * `Observation` API — rows_out there must equal rows_after here). */
  def erasureCascadeStates(forgetKeys: DataFrame, customer: DataFrame,
                           orders: DataFrame, lineitem: DataFrame): Seq[(String, DataFrame)] = {
    val keys = broadcast(forgetKeys.select(col("c_custkey").as("fk")).distinct())
    val hitOrders = broadcast(orders.join(keys, col("o_custkey") === col("fk"))
      .select(col("o_orderkey").as("hk")).distinct())
    Seq(
      "lineitem" -> lineitem.join(hitOrders, col("l_orderkey") === col("hk"), "left_anti"),
      "orders" -> orders.join(keys, col("o_custkey") === col("fk"), "left_anti"),
      "customer" -> customer.join(keys, col("c_custkey") === col("fk"), "left_anti"))
  }

  /** Erasure-cascade execution summary: per table, rows before / deleted /
    * after plus an exact key checksum of the POST-STATE (Σ of a unique row
    * key over surviving rows) — the oracle-checkable proof that the
    * cascade deleted exactly the right rows and nothing else. */
  def erasureExecute(forgetKeys: DataFrame, customer: DataFrame,
                     orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val states = erasureCascadeStates(forgetKeys, customer, orders, lineitem).toMap
    def summarize(before: DataFrame, table: String, key: Column): DataFrame = {
      val b = before.agg(count(lit(1)).as("rows_before"))
      val a = states(table).agg(count(lit(1)).as("rows_after"),
        sum(key).as("key_sum_after"))
      // 1-row × 1-row combine (BNLJ by construction, allowlisted in
      // PlanContractSpec like every other 1-row crossJoin in the repo)
      b.crossJoin(broadcast(a)).select(lit(table).as("table_name"),
        col("rows_before"),
        (col("rows_before") - col("rows_after")).as("rows_deleted"),
        col("rows_after"),
        coalesce(col("key_sum_after"), lit(0L)).as("key_sum_after"))
    }
    summarize(customer, "customer", col("c_custkey"))
      .unionAll(summarize(orders, "orders", col("o_orderkey")))
      .unionAll(summarize(lineitem, "lineitem",
        col("l_orderkey") * 8 + col("l_linenumber")))
      .orderBy("table_name")
  }
}
