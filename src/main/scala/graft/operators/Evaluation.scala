package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation and distribution-drift analytics — the metrics a
  * training-data pipeline computes to decide whether a classifier, a ranking
  * score, or a new corpus snapshot is fit to ship (reference analog: the
  * quality gates around ingest jobs; these are their statistical
  * generalization).
  *
  * Exactness contract (same recipe as the rest of the engine): every count
  * is an exact integer, every ratio is ONE double division of exact
  * integers (bit-equal in any engine), and the only transcendental (ln in
  * PSI) is quantized to DECIMAL(28,9) BEFORE any order-dependent sum — so
  * results are identical at any partitioning and hash-comparable with a
  * DuckDB oracle.
  *
  * Scale contract: nothing here sorts or windows raw rows globally. AUC and
  * KS first collapse rows to per-distinct-score counts (a hash aggregate —
  * the only row-sized shuffle); AUC's window runs per GROUP over that
  * shrunken table, and KS's global cumulative uses the two-pass
  * range-partition + broadcast-offsets scan ([[Evaluation.globalCumSum]]) —
  * never a one-partition `ORDER BY` window.
  */
object Evaluation {

  /** Distributed prefix sums in a total order, without a single-partition
    * window: range-partition sort on `orderCols` (pinned with
    * localCheckpoint so pass 2 sees pass 1's exact partitions), collect the
    * O(partitions) per-partition column totals, broadcast their exclusive
    * prefix, then add running sums map-side. Generalizes
    * [[Analytics.globalRowNumber]] from counts to sums. `valueCols` must be
    * LongType; each gains a `cum_` twin. */
  def globalCumSum(df: DataFrame, orderCols: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.sort(orderCols.map(col): _*).localCheckpoint()
    val idx = valueCols.map(c => sorted.schema.fieldIndex(c))
    val partTotals = sorted.rdd.mapPartitionsWithIndex { (p, it) =>
      val acc = Array.fill(idx.length)(0L)
      it.foreach { r => var i = 0; while (i < idx.length) { acc(i) += r.getLong(idx(i)); i += 1 } }
      Iterator((p, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(
      partTotals.scanLeft(Array.fill(idx.length)(0L)) { (a, b) =>
        a.zip(b).map { case (x, y) => x + y }
      })
    val schema = valueCols.foldLeft(sorted.schema)((s, c) => s.add(s"cum_$c", "long", nullable = false))
    val out = sorted.rdd.mapPartitionsWithIndex { (p, it) =>
      val run = offsets.value(p).clone()
      it.map { r =>
        var i = 0
        while (i < idx.length) { run(i) += r.getLong(idx(i)); i += 1 }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ run.toSeq)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Exact ROC AUC per group (Mann–Whitney U with the standard average-rank
    * tie handling), for "does this score separate the classes" checks on
    * classifier or ranking outputs.
    *
    * Never ranks raw rows: one hash aggregate collapses to per-distinct-
    * score (pos, neg) counts, the cumulative runs per group over that
    * shrunken table, and the numerator Σ pos·(2·cumNegBelow + neg) = 2U
    * stays an exact integer until ONE double division by 2·P·N — so the
    * value is identical at any partitioning and in any engine. Groups with
    * a missing class yield NULL (AUC undefined), not a crash. */
  def groupedAuc(df: DataFrame, groupCol: String, labelCol: Column,
                 scoreCol: String): DataFrame = {
    val perScore = df
      .select(col(groupCol).as("grp"), col(scoreCol).as("score"), labelCol.as("y"))
      .groupBy("grp", "score")
      .agg(count(when(col("y"), lit(1))).as("pos"),
           count(when(!col("y"), lit(1))).as("neg"))
    val w = Window.partitionBy("grp").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("cumneg", coalesce(sum("neg").over(w), lit(0L)))
      .groupBy("grp")
      .agg(sum("pos").as("pos_n"), sum("neg").as("neg_n"),
           sum(col("pos") * (col("cumneg") * 2 + col("neg"))).as("num2"))
      .select(col("grp"), col("pos_n"), col("neg_n"),
        when(col("pos_n") > 0 && col("neg_n") > 0,
          col("num2").cast("double") /
            (col("pos_n").cast("double") * col("neg_n").cast("double") * 2d))
          .as("auc"))
      .orderBy("grp")
  }

  /** Population stability index between a reference (`expected`) and a new
    * (`actual`) sample of one numeric column — THE standard drift gate in
    * front of model retraining (psi < 0.1 stable, > 0.25 shifted).
    *
    * Bin edges come from the EXPECTED side's min/max (one 1-row action,
    * broadcast into a map-side clamped-bin expression — actual values
    * outside the reference range land in the edge bins, standard PSI
    * practice). A `sequence` spine keeps empty bins as structural zeros and
    * Laplace-style smoothing (+0.5 per bin) keeps ln finite; the per-bin
    * (p−q)·ln(p/q) term is quantized DECIMAL(28,9) before the
    * order-independent decimal sum. Both scans are single aggregates; no
    * shuffle carries more than `bins` rows. */
  def psi(expected: DataFrame, actual: DataFrame, valueCol: String,
          bins: Int = 10): DataFrame =
    psiDetail(expected, actual, valueCol, bins)
      .agg(sum("expected_n").as("expected_n"), sum("actual_n").as("actual_n"),
           sum("term").as("psi"))
      .select(col("expected_n"), col("actual_n"),
        col("psi").cast("double").as("psi"))

  /** Per-bin PSI breakdown (bin, counts, smoothed shares, term) — the
    * drill-down behind [[psi]]'s one-row gate. */
  def psiDetail(expected: DataFrame, actual: DataFrame, valueCol: String,
                bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins in [2,1000]")
    val spark = expected.sparkSession
    val v = col(valueCol).cast("double")
    val stats = expected.agg(min(v).as("lo"), max(v).as("hi")).head()
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    val width = (hi - lo) / bins
    def binOf(c: Column): Column =
      if (width == 0d) lit(0) // degenerate reference: everything in bin 0
      else least(lit(bins - 1), greatest(lit(0),
        floor((c.cast("double") - lit(lo)) / lit(width)))).cast("int")
    def counted(df: DataFrame, out: String): DataFrame =
      df.groupBy(binOf(v).as("bin")).agg(count(lit(1)).as(out))
    val spine = spark.range(1)
      .select(explode(sequence(lit(0), lit(bins - 1))).as("b"))
      .select(col("b").cast("int").as("bin"))
    val cells = spine
      .join(counted(expected, "expected_n"), Seq("bin"), "left")
      .join(counted(actual, "actual_n"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("expected_n"), lit(0L)).as("expected_n"),
        coalesce(col("actual_n"), lit(0L)).as("actual_n"))
    val tot = cells.agg(sum("expected_n").as("__ne"), sum("actual_n").as("__na"))
    def share(cnt: Column, n: Column): Column =
      (cnt.cast("double") + 0.5d) / (n.cast("double") + lit(0.5d * bins))
    cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("expected_n"), col("actual_n"),
        share(col("expected_n"), col("__ne")).as("p"),
        share(col("actual_n"), col("__na")).as("q"))
      .withColumn("term",
        ((col("p") - col("q")) * log(col("p") / col("q"))).cast("decimal(28,9)"))
      .orderBy("bin")
  }

  /** Hellinger distance + Bhattacharyya coefficient between two samples'
    * binned distributions — the bounded drift metric rounding out the
    * family: PSI is unbounded and explodes on empty bins, KS sees only
    * the worst single gap; Hellinger H = √(1 − Σ√(p·q)) lives in [0,1]
    * (0 = identical, 1 = disjoint), making thresholds portable across
    * metrics and epochs. Reuses [[psiDetail]]'s reference-binned smoothed
    * shares, so all three drift gates read the SAME cells.
    *
    * Each √(p·q) term quantizes DECIMAL(28,12) before the exact sum; BC
    * and H are one double chain over it, scale 9. */
  def hellingerDrift(expected: DataFrame, actual: DataFrame,
                     valueCol: String, bins: Int = 10): DataFrame = {
    psiDetail(expected, actual, valueCol, bins)
      .select(sqrt(col("p") * col("q")).cast("decimal(28,12)").as("bcTerm"))
      .agg(sum("bcTerm").as("bcSum"))
      .select(
        col("bcSum").cast("double").cast("decimal(18,9)").cast("double")
          .as("bhattacharyya"),
        sqrt(greatest(lit(0d), lit(1d) - col("bcSum").cast("double")))
          .cast("decimal(18,9)").cast("double").as("hellinger"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic D = max |F_a − F_b| — the
    * nonparametric drift test PSI's binning can blur, exact over the full
    * value resolution.
    *
    * Both samples collapse to per-distinct-value counts first (hash
    * aggregate, the only row-sized shuffle), then the joint ECDFs come from
    * [[globalCumSum]]'s two-pass range-partitioned scan over distinct
    * values — the step functions only change at sample points, so the max
    * over those rows IS D. Totals ride one broadcast row; each |Δ| is a
    * division of exact integers and max is order-independent, so D is
    * bit-exact at any partitioning. */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val tagged = a.select(col(valueCol).cast("double").as("v"), lit(true).as("ia"))
      .unionAll(b.select(col(valueCol).cast("double").as("v"), lit(false).as("ia")))
    val perValue = tagged.groupBy("v")
      .agg(count(when(col("ia"), lit(1))).as("ca"),
           count(when(!col("ia"), lit(1))).as("cb"))
    val cum = globalCumSum(perValue, Seq("v"), Seq("ca", "cb"))
    val tot = cum.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("cum_ca").cast("double") / col("n_a").cast("double") -
            col("cum_cb").cast("double") / col("n_b").cast("double")).as("gap"))
      .groupBy("n_a", "n_b")
      .agg(max("gap").as("d"))
  }

  /** Calibration report + expected-calibration-error terms: scores in [0,1]
    * sliced into `bins` equal bins (clamped), per bin the mean score
    * ("confidence"), the positive rate ("accuracy"), and the ECE term
    * (n/N)·|acc − conf| — sum the column for ECE. The report says whether a
    * model's probabilities MEAN anything, the gate before using scores as
    * sampling weights.
    *
    * One row-sized hash aggregate (the binning); everything after is
    * bins-sized. Scores are quantized DECIMAL(18,9) per row before the
    * order-independent sum; N rides a window over the ≤`bins`-row aggregate
    * (trivially small — never a row-sized global window); every ratio is a
    * fixed double chain on exact aggregates. */
  def calibration(df: DataFrame, scoreCol: Column, labelCol: Column,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins in [2,1000]")
    val s = scoreCol.cast("double")
    val bin = least(lit(bins - 1), greatest(lit(0), floor(s * bins))).cast("long")
    val cells = df
      .select(bin.as("bin"), s.cast("decimal(18,9)").as("s"),
        when(labelCol, lit(1)).as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("s").as("sum_s"), count(col("y")).as("pos"))
    val w = Window.partitionBy() // ≤ bins rows by construction
    cells
      .withColumn("total", sum("n").over(w))
      .select(col("bin"), col("n"), col("pos"),
        (col("sum_s").cast("double") / col("n").cast("double")).as("confidence"),
        (col("pos").cast("double") / col("n").cast("double")).as("accuracy"),
        col("total"))
      .withColumn("ece_term",
        ((col("n").cast("double") / col("total").cast("double")) *
          abs(col("accuracy") - col("confidence"))).cast("decimal(18,9)").cast("double"))
      .drop("total")
      .orderBy("bin")
  }

  /** Decile lift / gains table: rank by score descending, cut into 10
    * equal-population slices, report per-slice positives, cumulative
    * capture rate, and lift over the base rate — "how much better than
    * random is targeting the top k%", the companion of [[groupedAuc]].
    *
    * Never ranks raw rows: collapses to per-distinct-score (n, pos) counts
    * first, then [[globalCumSum]] (two-pass range-partitioned scan) gives
    * each block its cumulative row position; a tied block lands WHOLLY in
    * the decile of its last row (deterministic tie policy, mirrored in the
    * oracle). Everything after the scan is ≤10 rows; ratios are fixed
    * double chains on exact integers. */
  def liftTable(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val perScore = df
      .select(scoreCol.cast("double").as("score"), labelCol.as("y"))
      .groupBy("score")
      .agg(count(lit(1)).as("n"), count(when(col("y"), lit(1))).as("pos"))
      .withColumn("negscore", -col("score"))
    val cum = globalCumSum(perScore, Seq("negscore"), Seq("n", "pos"))
    val tot = cum.agg(sum("n").as("nn"), sum("pos").as("np"))
    val deciles = cum.crossJoin(broadcast(tot))
      // `div`, not `/`: Column./ is DOUBLE division in Spark — a sub-ulp
      // rounding at a decile boundary would misplace a whole block; integer
      // division is exact at any count (DuckDB twin: `//`)
      .select(expr("(cum_n - 1) * 10 div nn").as("decile"),
        col("n"), col("pos"), col("nn"), col("np"))
      .groupBy("decile", "nn", "np")
      .agg(sum("n").as("n"), sum("pos").as("pos"))
    val w = Window.partitionBy().orderBy("decile") // ≤10 rows by construction
      .rowsBetween(Window.unboundedPreceding, 0)
    deciles
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("pos").over(w))
      .select(col("decile"), col("n"), col("pos"), col("cum_n"), col("cum_pos"),
        (col("cum_pos").cast("double") / col("np").cast("double")).as("capture_rate"),
        ((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
          (col("np").cast("double") / col("nn").cast("double"))).as("lift"))
      .orderBy("decile")
  }

  /** Jensen–Shannon divergence of each group's token distribution vs the
    * pooled corpus — "which source drifted" for multi-source corpora, the
    * symmetric bounded (≤ ln 2) cousin of KL that tolerates zeros:
    * a token absent from one side contributes only the other side's term.
    *
    * The only row-sized shuffle is the (group, token) count aggregate;
    * everything after is vocabulary-sized (corpus counts) × |groups| (the
    * tiny group-totals side is broadcast). Each probability is one division
    * of exact integers, each ln term is quantized DECIMAL(28,9) before the
    * order-independent sum, so the divergence is partitioning-invariant and
    * engine-exact. */
  def jsDivergence(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val dt = docs.select(col(groupCol).as("grp"),
      explode(Curation.tokens(col(textCol))).as("tok"))
    val perGrp = dt.groupBy("grp", "tok").agg(count(lit(1)).as("cg"))
      .localCheckpoint() // three consumers of the one row-sized aggregate
    val corpus = perGrp.groupBy("tok").agg(sum("cg").as("c"))
    val nG = perGrp.groupBy("grp").agg(sum("cg").as("ng"))
    val nTot = corpus.agg(sum("c").as("__n"))
    val support = corpus.crossJoin(broadcast(nG))
      .join(perGrp, Seq("grp", "tok"), "left")
      .na.fill(0L, Seq("cg"))
      .crossJoin(broadcast(nTot))
    val p = col("cg").cast("double") / col("ng").cast("double")
    val q = col("c").cast("double") / col("__n").cast("double")
    def term(a: Column, b: Column): Column =
      when(a > 0d, (a * log(a / ((a + b) / lit(2.0)))).cast("decimal(28,9)"))
        .otherwise(lit(0d).cast("decimal(28,9)"))
    support
      .select(col("grp"), col("ng"), term(p, q).as("tp"), term(q, p).as("tq"))
      .groupBy("grp", "ng")
      .agg(sum("tp").as("stp"), sum("tq").as("stq"))
      // cast each decimal sum to double BEFORE the add: adding two
      // DECIMAL(38,9) sums busts precision 38 and Catalyst silently drops
      // the result to scale 8 (a 5e-9 rounding the oracle can't reproduce)
      .select(col("grp"), col("ng").as("n_tokens"),
        ((col("stp").cast("double") + col("stq").cast("double")) * 0.5d).as("jsd"))
      .orderBy("grp")
  }

  /** Two-proportion z-test of every experiment arm against a control arm —
    * the A/B readout behind ship/no-ship decisions on ingestion or curation
    * changes (reference analog: comparing issue rates across upload
    * configurations). Per arm: exposures, successes, rate; non-control arms
    * additionally get the pooled-variance z statistic and the relative
    * lift vs control.
    *
    * One row-sized hash aggregate to arm counts; the 1-row control slice is
    * broadcast back over the ≤|arms| rows. Rates and z are fixed double
    * chains on exact integers (sqrt is IEEE-correctly-rounded), so every
    * value is bit-equal in any engine at any partitioning. The control arm
    * must exist in the data (the broadcast join is inner by construction). */
  def abTest(df: DataFrame, armCol: String, successCol: Column,
             controlArm: String): DataFrame = {
    val arms = df
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n"), count(when(successCol, lit(1))).as("pos"))
      .localCheckpoint() // two consumers of the one row-sized aggregate
    val ctl = arms.filter(col("arm") === controlArm)
      .select(col("n").as("__cn"), col("pos").as("__cpos"))
    val p  = col("pos").cast("double") / col("n").cast("double")
    val pc = col("__cpos").cast("double") / col("__cn").cast("double")
    val pool = (col("pos") + col("__cpos")).cast("double") /
      (col("n") + col("__cn")).cast("double")
    val se = sqrt(pool * (lit(1d) - pool) *
      (lit(1d) / col("n").cast("double") + lit(1d) / col("__cn").cast("double")))
    arms.crossJoin(broadcast(ctl))
      .select(col("arm"), col("n"), col("pos"), p.as("rate"),
        when(col("arm") =!= controlArm && se > 0d, (p - pc) / se).as("z"),
        when(col("arm") =!= controlArm && pc > 0d, (p - pc) / pc).as("rel_lift"))
      .orderBy("arm")
  }

  /** Sample-ratio-mismatch (SRM) check for an experiment assignment: χ² of
    * observed arm counts against the intended allocation — THE first gate
    * on any A/B readout, because a biased assignment invalidates
    * [[abTest]] before effect sizes mean anything (the classic silent
    * failure: a crash path that drops one arm's exposures). `expectedPm`
    * maps arm → intended share in per-mille (must sum to 1000).
    *
    * One hash aggregate to arm counts; expected counts are exact rational
    * n·pm/1000 kept as a double chain both engines reproduce; χ² terms
    * quantized DECIMAL(28,9) before the sum. χ² > 3.84 (1 df) / 5.99
    * (2 df) at α=0.05 ⇒ the assignment itself is broken. */
  def srmCheck(df: DataFrame, armCol: String,
               expectedPm: Map[String, Int]): DataFrame = {
    require(expectedPm.values.sum == 1000, "expected shares must sum to 1000‰")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df.groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("n_obs"))
    val exp = expectedPm.toSeq.sortBy(_._1).toDF("arm", "pm")
    val tot = obs.agg(sum("n_obs").as("__n"))
    val e = col("pm").cast("double") * col("__n").cast("double") / lit(1000d)
    val chiT = ((col("n_obs").cast("double") - e) * (col("n_obs").cast("double") - e) / e)
      .cast("decimal(28,9)")
    val perArm = exp.join(broadcast(obs), Seq("arm"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("arm"), col("n_obs"), col("pm"),
        e.cast("decimal(18,6)").cast("double").as("n_expected"),
        chiT.as("chi_q"))
    val chi2 = perArm.agg(sum("chi_q").cast("double").as("chi2"))
    perArm.crossJoin(broadcast(chi2))
      .select(col("arm"), col("n_obs"), col("pm"), col("n_expected"),
        col("chi_q").cast("double").as("chi_term"), col("chi2"))
      .orderBy("arm")
  }

  /** Mutual information, normalized MI, and Cramér's V between two
    * categorical columns — "how much does knowing X tell you about Y", the
    * feature-selection / redundancy readout ([[Analytics.chiSquare]] gives
    * the significance view of the same contingency table; this gives the
    * effect-size view).
    *
    * One contingency aggregate (the only row-sized shuffle); margins are
    * tiny re-aggregates; the full |X|×|Y| grid is restored so structural
    * zeros contribute to χ² (MI terms at o=0 are 0 by continuity). Each
    * ln / χ² term is quantized DECIMAL(28,10) before the order-independent
    * decimal sum; each decimal sum is cast to double SEPARATELY before any
    * combining arithmetic (two (38,10) sums added together silently drop
    * scale). NMI = MI/√(H(X)·H(Y)); V = √(χ²/(n·min(kx−1, ky−1))). */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val o = df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("o")).localCheckpoint() // four consumers
    val rx = o.groupBy("x").agg(sum("o").as("nx")).localCheckpoint()
    val cy = o.groupBy("y").agg(sum("o").as("ny")).localCheckpoint()
    val n = o.agg(sum("o").as("n"),
      countDistinct("x").as("kx"), countDistinct("y").as("ky"))
    def entropy(margin: DataFrame, cnt: String, out: String): DataFrame = {
      val pm = col(cnt).cast("double") / col("__n").cast("double")
      margin.crossJoin(broadcast(n.select(col("n").as("__n"))))
        .select((-pm * log(pm)).cast("decimal(28,10)").as("t"))
        .agg(sum("t").cast("double").as(out))
    }
    val cells = rx.crossJoin(cy)
      .join(o, Seq("x", "y"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
    val pxy = col("o").cast("double") / col("n").cast("double")
    val px  = col("nx").cast("double") / col("n").cast("double")
    val py  = col("ny").cast("double") / col("n").cast("double")
    val e   = (col("nx") * col("ny")).cast("double") / col("n").cast("double")
    val miTerm = when(col("o") > 0,
      (pxy * log(pxy / (px * py))).cast("decimal(28,10)"))
      .otherwise(lit(0d).cast("decimal(28,10)"))
    val chiTerm = ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
      .cast("decimal(28,10)")
    cells
      .select(col("n"), col("kx"), col("ky"), miTerm.as("mt"), chiTerm.as("ct"))
      .groupBy("n", "kx", "ky")
      .agg(sum("mt").cast("double").as("mi"), sum("ct").cast("double").as("chi2"))
      .crossJoin(broadcast(entropy(rx, "nx", "hx")))
      .crossJoin(broadcast(entropy(cy, "ny", "hy")))
      .select(col("n").as("n_rows"), col("mi"),
        when(col("hx") > 0d && col("hy") > 0d,
          col("mi") / sqrt(col("hx") * col("hy"))).otherwise(0d).as("nmi"),
        when(least(col("kx"), col("ky")) > 1,
          sqrt(col("chi2") / (col("n") * (least(col("kx"), col("ky")) - 1))
            .cast("double"))).otherwise(0d).as("cramers_v"))
  }

  /** Kaplan–Meier survival curve over (duration, event) observations —
    * "what fraction of users/jobs/documents survive past t", with
    * right-censoring handled properly (a censored subject leaves the risk
    * pool without counting as an event). The retention/time-to-failure
    * readout behind cohort decisions.
    *
    * Rows collapse to per-distinct-duration (events d, censored c) counts
    * first; the risk pool comes from [[globalCumSum]]'s two-pass exact
    * prefix scan (never a 1-partition window over raw rows). The running
    * product Π(1 − d/nᵢ) rides the SAME exact integer scan: each ln term is
    * rounded to integer nano-units (round on double is half-away-from-zero
    * in both engines, and a decimal multiply here would bust precision 38
    * and silently drop scale), cumulative-summed exactly, and exponentiated
    * once at the end, quantized to 9 dp so a sub-ulp libm difference cannot
    * surface. d = n_risk (everyone remaining dies — only possible at the
    * last event time) yields survival 0 exactly, not ln(0). */
  def kaplanMeier(df: DataFrame, durationCol: String, eventCol: Column): DataFrame = {
    val perT = df
      .select(col(durationCol).cast("long").as("t"), eventCol.as("ev"))
      .groupBy("t")
      .agg(count(when(col("ev"), lit(1))).as("d"),
           count(when(!col("ev"), lit(1))).as("c"))
    val cum = globalCumSum(perT, Seq("t"), Seq("d", "c"))
    val tot = cum.agg((sum("d") + sum("c")).as("__n"))
    val risk = cum.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("__n") - (col("cum_d") + col("cum_c") - col("d") - col("c")))
      .filter(col("d") > 0)
      .withColumn("lnq",
        when(col("d") < col("n_risk"),
          round(log(lit(1d) - col("d").cast("double") / col("n_risk").cast("double"))
            * lit(1e9d)).cast("long"))
          .otherwise(lit(0L))) // terminal full-death step: survival pinned to 0 below
      .select("t", "n_risk", "d", "lnq")
    globalCumSum(risk, Seq("t"), Seq("lnq"))
      .select(col("t"), col("n_risk"), col("d"),
        when(col("d") < col("n_risk"),
          exp(col("cum_lnq").cast("double") / lit(1e9d))
            .cast("decimal(18,9)").cast("double"))
          .otherwise(0d).as("survival"))
      .orderBy("t")
  }

  /** Nelson–Aalen cumulative hazard + the Fleming–Harrington survival
    * Ŝ = e^{−Ĥ} — [[kaplanMeier]]'s additive sibling: Ĥ(t) = Σ d_i/n_i is
    * the expected events-per-at-risk-unit so far, the curve you DIFF
    * between cohorts ("how much extra hazard did cohort B accumulate"),
    * and the better-behaved estimator at small n_risk. Same censoring
    * semantics and the same distributed recipe: per-duration margin, one
    * [[globalCumSum]] for at-risk counts, each d/n hazard increment
    * pre-quantized to nano-units so the cumulative sum is an exact
    * integer sum at any partitioning. */
  def nelsonAalen(df: DataFrame, durationCol: String, eventCol: Column): DataFrame = {
    val perT = df
      .select(col(durationCol).cast("long").as("t"), eventCol.as("ev"))
      .groupBy("t")
      .agg(count(when(col("ev"), lit(1))).as("d"),
           count(when(!col("ev"), lit(1))).as("c"))
    val cum = globalCumSum(perT, Seq("t"), Seq("d", "c"))
    val tot = cum.agg((sum("d") + sum("c")).as("__n"))
    val risk = cum.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("__n") - (col("cum_d") + col("cum_c") - col("d") - col("c")))
      .filter(col("d") > 0)
      .withColumn("hz",
        round(col("d").cast("double") / col("n_risk").cast("double") * lit(1e9d))
          .cast("long"))
      .select("t", "n_risk", "d", "hz")
    globalCumSum(risk, Seq("t"), Seq("hz"))
      .select(col("t"), col("n_risk"), col("d"),
        (col("cum_hz").cast("double") / lit(1e9d))
          .cast("decimal(18,9)").cast("double").as("cum_hazard"),
        exp(col("cum_hz").cast("double") / lit(-1e9d))
          .cast("decimal(18,9)").cast("double").as("survival_fh"))
      .orderBy("t")
  }

  /** Two-way factorial ANOVA (sequential / Type-I sums, A then B then
    * A×B) from exact integer power sums — "does quantity move with
    * return-flag, with line-status, or only with their COMBINATION":
    * the interaction F is the readout one-way [[anovaF]] can't give.
    * On unbalanced cells the decomposition is order-dependent (standard
    * Type-I caveat, documented; swap factors to bracket).
    *
    * ONE hash aggregate to (a, b) cell stats (n, Σx, Σx²); every SS is
    * the classic Σ S²/n − T²/N expansion over cell/margin tables with
    * per-cell terms quantized DECIMAL(38,6) before their k-term sums;
    * F ratios are one mirrored chain. `value` must be integer-typed. */
  def anovaTwoWay(df: DataFrame, aCol: String, bCol: String,
                  value: Column): DataFrame = {
    val x = value.cast("decimal(19,0)")
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n"), sum(x).as("s1"),
        sum((x * x).cast("decimal(38,0)")).as("s2"))
      .localCheckpoint() // grand + margins + cell terms all reuse it
    def qterm(s: Column, n: Column): Column =
      (s.cast("double") * s.cast("double") / n.cast("double"))
        .cast("decimal(38,6)")
    val grand = cells.agg(sum("n").as("nT"), sum("s1").as("t1"),
      sum("s2").as("t2"), count(lit(1)).as("nCells"),
      sum(qterm(col("s1"), col("n"))).as("qCells"))
    val qa = cells.groupBy("a").agg(sum("s1").as("sa"), sum("n").as("na"))
      .agg(count(lit(1)).as("ka"), sum(qterm(col("sa"), col("na"))).as("qA"))
    val qb = cells.groupBy("b").agg(sum("s1").as("sb"), sum("n").as("nb"))
      .agg(count(lit(1)).as("kb"), sum(qterm(col("sb"), col("nb"))).as("qB"))
    val j = grand.crossJoin(broadcast(qa)).crossJoin(broadcast(qb))
    val cf = col("t1").cast("double") * col("t1").cast("double") /
      col("nT").cast("double")
    val ssA = col("qA").cast("double") - cf
    val ssB = col("qB").cast("double") - cf
    val ssCells = col("qCells").cast("double") - cf
    val ssAB = ssCells - ssA - ssB
    val ssW = col("t2").cast("double") - col("qCells").cast("double")
    val dfA = (col("ka") - 1).cast("double")
    val dfB = (col("kb") - 1).cast("double")
    val dfAB = (col("nCells") - col("ka") - col("kb") + 1).cast("double")
    val dfW = (col("nT") - col("nCells")).cast("double")
    val mse = ssW / dfW
    def f(ss: Column, dfx: Column): Column =
      when(dfx > 0d && mse > 0d, (ss / dfx / mse)
        .cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double"))
    j.select(col("nT").cast("long").as("n"),
      col("ka").cast("long").as("levels_a"), col("kb").cast("long").as("levels_b"),
      ssA.cast("decimal(28,6)").cast("double").as("ss_a"),
      ssB.cast("decimal(28,6)").cast("double").as("ss_b"),
      ssAB.cast("decimal(28,6)").cast("double").as("ss_interaction"),
      ssW.cast("decimal(28,6)").cast("double").as("ss_within"),
      f(ssA, dfA).as("f_a"), f(ssB, dfB).as("f_b"), f(ssAB, dfAB).as("f_interaction"))
  }

  /** Per-class precision / recall / F1 with support, from ONE contingency
    * pass — the eval report for any labeling/filtering model in the
    * pipeline. After the (actual, predicted) count aggregate everything is
    * class-count-sized: margins are two tiny re-aggregates joined back, a
    * class absent from one margin scores 0 (not NULL, not a crash), and
    * each metric is a fixed chain of double ops on exact integers. */
  def classificationMetrics(df: DataFrame, actualCol: String,
                            predictedCol: String): DataFrame = {
    val cm = df.groupBy(col(actualCol).as("actual"), col(predictedCol).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // three consumers; contingency is |classes|² rows
    val actualTot = cm.groupBy(col("actual").as("label")).agg(sum("n").as("support"))
    val predTot = cm.groupBy(col("predicted").as("label")).agg(sum("n").as("predicted_n"))
    val tp = cm.filter(col("actual") === col("predicted"))
      .select(col("actual").as("label"), col("n").as("tp"))
    val base = actualTot.join(predTot, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("predicted_n"), lit(0L)).as("predicted_n"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val p = when(col("predicted_n") > 0,
      col("tp").cast("double") / col("predicted_n").cast("double")).otherwise(0d)
    val r = when(col("support") > 0,
      col("tp").cast("double") / col("support").cast("double")).otherwise(0d)
    base
      .withColumn("precision", p)
      .withColumn("recall", r)
      .withColumn("f1",
        when(col("precision") + col("recall") > 0d,
          col("precision") * col("recall") * 2d / (col("precision") + col("recall")))
          .otherwise(0d))
      .orderBy("label")
  }

  /** Distributed prefix MINIMUM in a total order — [[globalCumSum]]'s
    * monoid sibling (min instead of +), same two-pass shape: range-sort,
    * collect O(partitions) per-partition minima, broadcast their exclusive
    * prefix-min, finish map-side. `valueCols` must be LongType; each gains
    * a `cummin_` twin. Needed wherever a running extremum would otherwise
    * force a one-partition window (CUSUM, drawdown).
    *
    * `inclusive = false` emits the min over STRICTLY PRECEDING rows only
    * (first row gets Long.MaxValue — the empty prefix), the form a
    * "beats everything before me" record/frontier test needs. */
  def globalCumMin(df: DataFrame, orderCols: Seq[String],
                   valueCols: Seq[String], inclusive: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.sort(orderCols.map(col): _*).localCheckpoint()
    val idx = valueCols.map(c => sorted.schema.fieldIndex(c))
    val partMins = sorted.rdd.mapPartitionsWithIndex { (p, it) =>
      val acc = Array.fill(idx.length)(Long.MaxValue)
      it.foreach { r =>
        var i = 0
        while (i < idx.length) { acc(i) = math.min(acc(i), r.getLong(idx(i))); i += 1 }
      }
      Iterator((p, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(
      partMins.scanLeft(Array.fill(idx.length)(Long.MaxValue)) { (a, b) =>
        a.zip(b).map { case (x, y) => math.min(x, y) }
      })
    val schema = valueCols.foldLeft(sorted.schema)(
      (s, c) => s.add(s"cummin_$c", "long", nullable = false))
    val out = sorted.rdd.mapPartitionsWithIndex { (p, it) =>
      val run = offsets.value(p).clone()
      it.map { r =>
        val pre = if (inclusive) null else run.clone()
        var i = 0
        while (i < idx.length) { run(i) = math.min(run(i), r.getLong(idx(i))); i += 1 }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ (if (inclusive) run else pre).toSeq)
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Two-sided CUSUM changepoint monitor over an evenly spaced series
    * (one row per time step — aggregate first, e.g. events → daily
    * counts): detects a sustained shift of the mean that per-point tests
    * (z-score, [[psi]] on windows) smear out. Standard tabular CUSUM with
    * slack k·σ and alarm threshold h·σ:
    * S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − kσ)), mirrored for S⁻.
    *
    * The recurrence looks sequential but is two prefix scans via the
    * Lindley identity S⁺_t = C_t − min(0, min_{j≤t} C_j) with
    * C_t = Σ_{i≤t}(x_i − μ − kσ): each deviation is rounded to integer
    * MICRO-units (half-away-from-zero on a fixed double chain — identical
    * in any engine), then [[globalCumSum]] + [[globalCumMin]] finish it
    * exactly without a one-partition window. μ and σ (population) are
    * fixed double chains over exact integer sums. Output per step:
    * s_plus/s_minus in σ-free value units (6 dp) and the alarm flags. */
  def cusum(series: DataFrame, tCol: String, valueCol: String,
            kSigmas: Double = 0.5, hSigmas: Double = 4.0): DataFrame = {
    val base = series.select(col(tCol).cast("long").as("t"),
      col(valueCol).cast("long").as("x")).localCheckpoint() // stats + scan
    // decimal sums (Σx² wraps long past 2^63); each cast to double
    // SEPARATELY, then a fixed IEEE chain both engines reproduce
    val x19 = col("x").cast("decimal(19,0)")
    val st = base.agg(count(lit(1)).as("n"), sum(x19).as("sx"),
        sum(x19 * x19).as("sxx"))
      .select((col("sx").cast("double") / col("n").cast("double")).as("mu"),
        sqrt((col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
          / (col("n").cast("double") * col("n").cast("double"))).as("sigma"))
    val dev = base.crossJoin(broadcast(st))
      .select(col("t"), col("x"), col("mu"), col("sigma"),
        round((col("x").cast("double") - col("mu") - lit(kSigmas) * col("sigma"))
          * lit(1e6d)).cast("long").as("up"),
        round((col("mu") - col("x").cast("double") - lit(kSigmas) * col("sigma"))
          * lit(1e6d)).cast("long").as("dn"))
    globalCumSum(dev, Seq("t"), Seq("up", "dn"))
      .withColumnRenamed("cum_up", "cu").withColumnRenamed("cum_dn", "cd")
      // prepend the virtual C_0 = 0 via least(lit(0)): min over j ≤ t of the
      // cumulative INCLUDING the empty prefix
      .transform(d => globalCumMin(d, Seq("t"), Seq("cu", "cd")))
      .select(col("t"), col("x"),
        ((col("cu") - least(lit(0L), col("cummin_cu"))).cast("double") / 1e6)
          .cast("decimal(18,6)").cast("double").as("s_plus"),
        ((col("cd") - least(lit(0L), col("cummin_cd"))).cast("double") / 1e6)
          .cast("decimal(18,6)").cast("double").as("s_minus"),
        (col("cu") - least(lit(0L), col("cummin_cu"))).cast("double")
          .gt(lit(hSigmas) * col("sigma") * 1e6).as("alarm_up"),
        (col("cd") - least(lit(0L), col("cummin_cd"))).cast("double")
          .gt(lit(hSigmas) * col("sigma") * 1e6).as("alarm_down"))
      .orderBy("t")
  }

  /** Cohen's kappa: chance-corrected agreement between two categorical
    * ratings of the same items — the label-QC readout for any doubly-
    * annotated (or model-vs-heuristic) labeling pass. Raw agreement
    * (`po`) flatters imbalanced label sets; kappa subtracts the agreement
    * `pe` two independent raters with these margins would reach by luck:
    * κ = (po − pe)/(1 − pe).
    *
    * One contingency aggregate (the only row-sized shuffle, map-side
    * combined); margins are tiny re-aggregates. Margin products are cast
    * DECIMAL(38,0) BEFORE multiplying (two ~6e9 margins overflow a long at
    * 100 TB scale), summed exactly, and each of po/pe is ONE double
    * division of exact integers — bit-equal in any engine. Degenerate
    * single-label data (pe = 1) yields NULL, not 0/0. */
  def cohenKappa(df: DataFrame, rater1: Column, rater2: Column): DataFrame = {
    val o = df.groupBy(rater1.cast("string").as("a"), rater2.cast("string").as("b"))
      .agg(count(lit(1)).as("o")).localCheckpoint() // four consumers
    val ra = o.groupBy("a").agg(sum("o").as("na"))
    val cb = o.groupBy("b").agg(sum("o").as("nb"))
    val n = o.agg(sum("o").as("n"))
    val agree = o.filter(col("a") === col("b"))
      .agg(coalesce(sum("o"), lit(0L)).as("agree"))
    // Σ_label na·nb over labels PRESENT in both margins (absent ⇒ 0 term)
    val prod = ra.join(cb, col("a") === col("b"))
      .agg(coalesce(sum(col("na").cast("decimal(38,0)") *
        col("nb").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("sum_prod"))
    val po = col("agree").cast("double") / col("n").cast("double")
    val pe = col("sum_prod").cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(prod))
      .select(col("n"), col("agree"),
        po.cast("decimal(18,9)").cast("double").as("po"),
        pe.cast("decimal(18,9)").cast("double").as("pe"),
        when(pe < 1d, ((po - pe) / (lit(1d) - pe))
          .cast("decimal(18,9)").cast("double")).as("kappa"))
  }

  /** Per-query ranking quality: nDCG@k and reciprocal rank — the retrieval
    * eval for any scored listing (search results, ANN candidates, feed
    * ordering) against graded relevance. DCG@k = Σ_{rank≤k}
    * (2^rel − 1)·ln2/ln(rank+1), normalized by the ideal ordering's IDCG@k;
    * RR = 1/rank of the first relevant item (0 if none).
    *
    * Ranks come from per-GROUP row_number windows (partitioned by the query
    * key — never a global sort); ties break on the item id so the ranking
    * is total and engine-independent. Each DCG term is one fixed double
    * chain (2^rel exact for small grades, the two lns are the same libm
    * calls both engines make on small-integer args) quantized
    * DECIMAL(28,9) before the order-independent sum; nDCG and RR are
    * single double divisions at the end. IDCG = 0 (no relevant item)
    * pins nDCG to 0, not NULL/∞. */
  def rankingMetrics(df: DataFrame, queryCol: String, itemCol: String,
                     scoreCol: String, relCol: Column, k: Int): DataFrame = {
    val base = df.select(col(queryCol).as("q"), col(itemCol).as("item"),
      col(scoreCol).as("s"), relCol.cast("int").as("rel"))
    val w  = Window.partitionBy("q").orderBy(col("s").desc, col("item"))
    val wi = Window.partitionBy("q").orderBy(col("rel").desc, col("item"))
    val gain = pow(lit(2d), col("rel")) - lit(1d)
    def term(rank: Column) =
      (gain * log(lit(2d)) / log(rank.cast("double") + 1d)).cast("decimal(28,9)")
    val zero = lit(0d).cast("decimal(28,9)")
    val ranked = base
      .withColumn("rnk", row_number().over(w))
      .withColumn("irnk", row_number().over(wi))
    ranked.groupBy("q")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("rnk") <= k, term(col("rnk"))).otherwise(zero)).as("dcg"),
        sum(when(col("irnk") <= k, term(col("irnk"))).otherwise(zero)).as("idcg"),
        min(when(col("rel") > 0, col("rnk"))).as("first_rel"))
      .select(col("q"), col("n_items"),
        when(col("idcg") > zero,
          (col("dcg").cast("double") / col("idcg").cast("double"))
            .cast("decimal(18,9)").cast("double"))
          .otherwise(0d).as("ndcg"),
        coalesce(lit(1d) / col("first_rel").cast("double"), lit(0d))
          .cast("decimal(18,9)").cast("double").as("rr"))
      .orderBy("q")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): combine several scored
    * rankings of the same items with Σ_r 1/(kRff + rank_r) — the standard
    * zero-training way to merge lexical + vector + recency retrieval legs,
    * robust to incomparable score scales because only RANKS survive.
    *
    * One row_number window per leg, all over the SAME query-key partition
    * (one shuffle, Catalyst shares the sort where orders align). The fused
    * score is a FIXED-LENGTH fold over the legs in declaration order —
    * never a data-ordered aggregate — so the double sum is deterministic;
    * ties on the fused value break on the item id. */
  def reciprocalRankFusion(df: DataFrame, queryCol: String, itemCol: String,
                           scoreCols: Seq[String], kRrf: Int = 60): DataFrame = {
    require(scoreCols.nonEmpty, "need at least one ranking leg")
    val ranked = scoreCols.zipWithIndex.foldLeft(
      df.select(col(queryCol).as("q") +: col(itemCol).as("item") +:
        scoreCols.map(col): _*)) { case (acc, (sc, i)) =>
      val w = Window.partitionBy("q").orderBy(col(sc).desc, col("item"))
      acc.withColumn(s"rank_$sc", row_number().over(w).cast("long"))
    }
    val fused = scoreCols.map(sc => lit(1d) / (lit(kRrf.toDouble) + col(s"rank_$sc")))
      .reduce(_ + _) // fixed fold order: leg 1 + leg 2 + … — not data-ordered
    val wf = Window.partitionBy("q").orderBy(col("fused").desc, col("item"))
    ranked
      .withColumn("fused", fused.cast("decimal(18,9)").cast("double"))
      .withColumn("fused_rank", row_number().over(wf).cast("long"))
      .select(col("q") +: col("item") +: scoreCols.map(sc => col(s"rank_$sc")) :+
        col("fused") :+ col("fused_rank"): _*)
      .orderBy(col("q"), col("fused_rank"))
  }

  /** Weight-of-evidence / information-value feature screen — the
    * credit-scoring standard for "how well does this numeric feature
    * separate a binary outcome" (IV < 0.02 useless, 0.1–0.3 medium,
    * > 0.5 suspicious). Per bin WOE = ln(good%/bad%); IV = Σ (good% −
    * bad%)·WOE — algebraically [[psi]] of the goods distribution against
    * the bads distribution, so this REUSES [[psiDetail]]'s exact binning
    * core verbatim (expected = goods anchors the bin edges, +0.5 Laplace
    * smoothing keeps ln finite on empty cells, every ln term quantized
    * DECIMAL(28,9) before the order-independent sum). Two single-pass
    * aggregates; nothing shuffles more than `bins` rows. */
  def woeIv(df: DataFrame, good: Column, valueCol: String,
            bins: Int = 10): DataFrame = {
    val detail = psiDetail(df.where(good), df.where(!good), valueCol, bins)
    val tot = detail.agg(sum("term").cast("double").as("iv"))
    detail.crossJoin(broadcast(tot))
      .select(col("bin"), col("expected_n").as("n_good"),
        col("actual_n").as("n_bad"),
        log(col("p") / col("q")).cast("decimal(28,9)").cast("double").as("woe"),
        col("term").cast("double").as("iv_term"), col("iv"))
      .orderBy("bin")
  }

  /** Multi-column drift report: [[psi]] per feature between a reference
    * and a new snapshot, one row per column — the retraining gate run
    * over EVERY model input at once instead of one ad-hoc psi call per
    * feature. Two aggregate scans per column over pre-projected columns;
    * the per-column union is metadata-sized. */
  def driftReport(expected: DataFrame, actual: DataFrame,
                  cols: Seq[String], bins: Int = 10): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    cols.map { c =>
      psi(expected, actual, c, bins)
        .select(lit(c).as("col_name"), col("expected_n"), col("actual_n"),
          col("psi"))
    }.reduce(_ unionAll _).orderBy("col_name")
  }

  /** Operating-point threshold sweep: evaluate "positive iff score ≥ t"
    * at EVERY distinct score and return the best-F1 and best-Youden-J
    * rows — how a score becomes a deployed classifier (AUC says the score
    * ranks well; this says where to cut it). Ties break to the smallest
    * threshold.
    *
    * Rows collapse to per-distinct-score (pos, neg) counts first (the
    * groupedAuc recipe — the only row-sized shuffle), the descending
    * cumulative TP/FP comes from [[globalCumSum]]'s two-pass scan (never
    * a one-partition window over scores), and each metric is a fixed
    * double chain quantized DECIMAL(18,9) before the order-independent
    * argmax. */
  def thresholdSweep(df: DataFrame, score: Column, label: Column): DataFrame = {
    val perScore = df
      .select(score.cast("decimal(18,9)").as("thr"), label.as("y"))
      .groupBy("thr")
      .agg(count(when(col("y"), lit(1))).as("pos"),
        count(when(!col("y"), lit(1))).as("neg"))
      .withColumn("negthr", (-col("thr")).cast("decimal(18,9)"))
    val cum = globalCumSum(
      perScore.select(col("thr"), col("negthr"), col("pos"), col("neg")),
      Seq("negthr"), Seq("pos", "neg"))
    val tot = cum.agg(sum("pos").as("p"), sum("neg").as("n"))
    val m = cum.crossJoin(broadcast(tot))
      .select(col("thr"),
        col("cum_pos").as("tp"), col("cum_neg").as("fp"),
        (col("p") - col("cum_pos")).as("fn"), (col("n") - col("cum_neg")).as("tn"),
        col("p"), col("n"))
      .withColumn("precision",
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall", col("tp").cast("double") / col("p").cast("double"))
      .withColumn("f1",
        (col("tp").cast("double") * 2d /
          (col("tp") * 2 + col("fp") + col("fn")).cast("double"))
          .cast("decimal(18,9)"))
      .withColumn("youden",
        (col("tp").cast("double") / col("p").cast("double") -
          col("fp").cast("double") / col("n").cast("double"))
          .cast("decimal(18,9)"))
    def best(metric: String): DataFrame = m
      .select(struct(col(metric).as("m"), (-col("thr")).as("negt")).as("__k"),
        col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        col("precision"), col("recall"), col("f1"), col("youden"))
      .orderBy(col("__k").desc)
      .limit(1)
      .select(lit(metric).as("criterion"), col("thr").cast("double").as("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"), col("precision"),
        col("recall"), col("f1").cast("double").as("f1"),
        col("youden").cast("double").as("youden"))
    best("f1").unionAll(best("youden")).orderBy("criterion")
  }

  /** Brier score with Murphy's decomposition (reliability − resolution +
    * uncertainty over K forecast bins) — WHY a probabilistic score is
    * good or bad: badly calibrated (reliability), uninformative
    * (resolution), or just a hard problem (uncertainty). The direct
    * Brier term is fully EXACT: (f−o)² stays decimal until one final
    * division. Components use binned mean forecasts (the standard
    * discretization); each n_k·(·)² term quantizes DECIMAL(28,9) before
    * the order-independent sum. Two hash aggregates (rows → bins → 1). */
  def brierDecomposition(df: DataFrame, score: Column, label: Column,
                         bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins in [2,1000]")
    val f = score.cast("decimal(18,9)")
    val o = when(label, lit(1)).otherwise(lit(0))
    val bin = least(lit(bins - 1), greatest(lit(0),
      floor(score.cast("double") * bins))).cast("long")
    val cells = df.select(bin.as("bin"), f.as("f"), o.as("o"),
        ((f - o) * (f - o)).as("sq"))
      .groupBy("bin")
      .agg(count(lit(1)).as("nk"), sum("f").as("sf"), sum("o").as("so"),
        sum("sq").as("ssq"))
    val tot = cells.agg(sum("nk").as("n"), sum("so").as("son"), sum("ssq").as("ssqt"))
    val obar = col("son").cast("double") / col("n").cast("double")
    cells.crossJoin(broadcast(tot))
      .select(col("nk"), col("n"), col("ssqt"),
        ((col("sf").cast("double") / col("nk").cast("double") -
          col("so").cast("double") / col("nk").cast("double")) *
          (col("sf").cast("double") / col("nk").cast("double") -
            col("so").cast("double") / col("nk").cast("double")) *
          col("nk").cast("double")).cast("decimal(28,9)").as("rel_t"),
        ((col("so").cast("double") / col("nk").cast("double") - obar) *
          (col("so").cast("double") / col("nk").cast("double") - obar) *
          col("nk").cast("double")).cast("decimal(28,9)").as("res_t"),
        obar.as("ob"))
      .groupBy("n", "ssqt", "ob")
      .agg(sum("rel_t").as("srel"), sum("res_t").as("sres"))
      .select(col("n"),
        // quantize the (38,18) sum to 9 dp before the double cast — at 20+
        // significant digits the raw decimal→double conversions disagree
        (col("ssqt").cast("decimal(28,9)").cast("double") /
          col("n").cast("double")).as("brier"),
        (col("srel").cast("double") / col("n").cast("double")).as("reliability"),
        (col("sres").cast("double") / col("n").cast("double")).as("resolution"),
        (col("ob") * (lit(1.0) - col("ob"))).as("uncertainty"))
  }

  /** Delete-1 jackknife standard error for a RATIO metric Σnum/Σden —
    * the online-experimentation standard for metrics whose unit of
    * randomization (user, session bucket) differs from the row (ratio
    * metrics violate the i.i.d.-row assumption a plain variance needs):
    * leave each group out once, recompute the ratio, and read the spread.
    * Output: the ratio, its jackknife SE, and the ±1.96·SE interval.
    *
    * One hash aggregate to per-group (num, den) sums — exact decimals,
    * caller pre-casts — then each leave-one-out ratio is a fixed double
    * chain quantized DECIMAL(18,9) before the order-independent variance
    * sums; groups are the only rows that move after the first aggregate. */
  def jackknifeRatioSE(df: DataFrame, groupCol: Column, num: Column,
                       den: Column): DataFrame = {
    val g = df.groupBy(groupCol.as("grp"))
      .agg(sum(num).as("n"), sum(den).as("d"))
    val t = g.agg(count(lit(1)).as("gk"), sum("n").as("tn"), sum("d").as("td"))
    val loo = g.crossJoin(broadcast(t))
      .select(col("gk"), col("tn"), col("td"),
        (((col("tn") - col("n")).cast("double")) /
          ((col("td") - col("d")).cast("double")))
          .cast("decimal(18,9)").as("mi"))
    loo
      .groupBy("gk", "tn", "td")
      .agg(sum("mi").as("sm"), sum(col("mi") * col("mi")).as("sm2"))
      .select(
        (col("tn").cast("double") / col("td").cast("double")).as("ratio"),
        col("gk").as("n_groups"),
        sqrt(((col("gk") - 1).cast("double") / col("gk").cast("double")) *
          (col("sm2").cast("double") - col("sm").cast("double") *
            col("sm").cast("double") / col("gk").cast("double"))).as("se"))
      .select(col("ratio"), col("n_groups"), col("se"),
        (col("ratio") - lit(1.96) * col("se")).as("ci_lo"),
        (col("ratio") + lit(1.96) * col("se")).as("ci_hi"))
  }

  /** One-way ANOVA F — "does the group mean differ anywhere" across k>2
    * groups, the multi-arm generalization of [[abTest]]'s two-proportion z
    * (reference analog: comparing a metric across every ingest source at
    * once instead of pairwise). F = (SSB/(k−1)) / (SSW/(N−k)) from the
    * classic power-sum identities SSB = Σ_g S1g²/n_g − T1²/N and
    * SSW = T2 − Σ_g S1g²/n_g.
    *
    * Exactness: caller passes `value` pre-cast to an exactly-representable
    * DECIMAL; per-group n/Σx/Σx² are then exact, each group's S1g²/n_g
    * term is ONE fixed double chain quantized DECIMAL(28,9) before the
    * order-independent sum across groups, and the final F is a fixed
    * double chain over those — identical at any partitioning and in
    * DuckDB. Scale: two hash aggregates (rows → k groups → 1 row);
    * nothing else moves. */
  def anovaF(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(value).as("s1"), sum(value * value).as("s2"))
      .select(col("n"), col("s1"), col("s2"),
        (col("s1").cast("double") * col("s1").cast("double") /
          col("n").cast("double")).cast("decimal(28,9)").as("term"))
    g.agg(count(lit(1)).as("k"), sum("n").as("n"),
        sum("s1").cast("double").as("t1d"), sum("s2").cast("double").as("t2d"),
        sum("term").cast("double").as("qsumd"))
      .select(col("k"), col("n"),
        (col("qsumd") - col("t1d") * col("t1d") / col("n").cast("double"))
          .as("ss_between"),
        (col("t2d") - col("qsumd")).as("ss_within"))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        (col("ss_between") / (col("k") - 1).cast("double") /
          (col("ss_within") / (col("n") - col("k")).cast("double"))).as("f_stat"))
  }

  /** Empirical-Bayes beta-binomial shrinkage of per-item rates (the
    * method-of-moments James–Stein recipe): small-sample items get pulled
    * toward the population prior, so "3/3 returned" stops outranking
    * "95/100 returned" — THE fix for every leaderboard/ranking built on
    * per-item success counts. Prior (α, β) fits from the observed rate
    * distribution's mean/variance: M = μ(1−μ)/v − 1, α = μM, β = (1−μ)M;
    * the posterior mean (s+α)/(n+α+β) is the shrunk rate.
    *
    * One item-grain aggregate; per-item raw rates are single exact-int
    * divisions (identical bits any engine) quantized DECIMAL(28,12)
    * before the moment sums; the prior and each shrunk rate are fixed
    * double chains, scale 6. Degenerate variance (v ≤ 0 or ≥ μ(1−μ)) →
    * no shrinkage basis → raw rates returned with α=β=0. */
  def ebShrink(df: DataFrame, itemCol: String, success: Column,
               topK: Int = 20): DataFrame = {
    val items = df.groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("n"), sum(when(success, 1L).otherwise(0L)).as("s"))
      // (18,12): r ≤ 1 so 18 digits suffice, and r·r then types (37,24) —
      // a (28,12) square busts precision 38 and Catalyst silently drops
      // the product scale (the decimal-overflow gotcha, moment form)
      .withColumn("r", (col("s").cast("double") / col("n").cast("double"))
        .cast("decimal(18,12)"))
      .localCheckpoint() // moment scan + the shrink pass
    val mom = items.agg(count(lit(1)).as("k"),
      sum("r").as("sr"), sum(col("r") * col("r")).as("srr"))
    val kd = col("k").cast("double")
    val mu = col("sr").cast("double") / kd
    val v = col("srr").cast("double") / kd - mu * mu
    val bigM = mu * (lit(1d) - mu) / v - 1d
    val prior = mom.select(
      when(v > 0d && v < mu * (lit(1d) - mu), mu * bigM).otherwise(lit(0d)).as("alpha"),
      when(v > 0d && v < mu * (lit(1d) - mu), (lit(1d) - mu) * bigM).otherwise(lit(0d)).as("beta"))
    items.crossJoin(broadcast(prior))
      .select(col("item"), col("n").cast("long").as("n"), col("s").cast("long").as("s"),
        col("r").cast("double").cast("decimal(18,6)").cast("double").as("raw_rate"),
        ((col("s").cast("double") + col("alpha")) /
          (col("n").cast("double") + col("alpha") + col("beta")))
          .cast("decimal(18,6)").cast("double").as("shrunk_rate"))
      .orderBy(col("shrunk_rate").desc, col("item"))
      .limit(topK)
  }

  /** Tukey-style pairwise post-hoc comparisons after ANOVA: for every
    * group pair, the standardized difference q = (x̄_i − x̄_j) /
    * √(MSW/2·(1/n_i + 1/n_j)) against the pooled within-group variance —
    * the step that turns [[anovaF]]'s "SOMETHING differs" into WHICH
    * pairs differ, with the studentized scaling that keeps the family
    * comparable (|q| ≳ 3–4 at typical sizes ⇒ that pair is real).
    *
    * One hash aggregate to per-group exact moments (n, Σx, Σx²); MSW is
    * one double chain over the pooled sums (broadcast 1-row); the k²
    * pair frame is dim-sized. Means and q are fixed double chains over
    * exact decimal sums, scale 6/9. */
  def tukeyPairs(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(value).as("s1"),
        sum(value * value).as("s2"))
      .localCheckpoint() // pooled MSW + both pair sides
    val pooled = g
      .select(col("n"), col("s2"),
        (col("s1").cast("double") * col("s1").cast("double") /
          col("n").cast("double")).cast("decimal(38,6)").as("term"))
      .agg(sum("n").as("nt"), count(lit(1)).as("k"),
        sum("s2").cast("double").as("t2d"), sum("term").cast("double").as("qsumd"))
      .select(col("nt"), col("k"),
        ((col("t2d") - col("qsumd")) /
          (col("nt") - col("k")).cast("double")).as("msw"))
    val a = g.select(col("grp").as("ga"), col("n").as("na"), col("s1").as("sa"))
    val b = g.select(col("grp").as("gb"), col("n").as("nb"), col("s1").as("sb"))
    val ma = col("sa").cast("double") / col("na").cast("double")
    val mb = col("sb").cast("double") / col("nb").cast("double")
    val se = sqrt(col("msw") / 2d *
      (lit(1d) / col("na").cast("double") + lit(1d) / col("nb").cast("double")))
    a.crossJoin(b).filter(col("ga") < col("gb"))
      .crossJoin(broadcast(pooled))
      .select(col("ga"), col("gb"),
        ma.cast("decimal(18,6)").cast("double").as("mean_a"),
        mb.cast("decimal(18,6)").cast("double").as("mean_b"),
        (ma - mb).cast("decimal(18,6)").cast("double").as("diff"),
        when(col("msw") > 0d, ((ma - mb) / se).cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("q_stat"))
      .orderBy("ga", "gb")
  }

  /** Sequential probability ratio test (Wald 1945) on a daily conversion
    * stream — the EARLY-STOPPING readout a peeking-prone experiment
    * culture actually needs: test H0: p = p0 vs H1: p = p1 with error
    * budget (α, β); the cumulative log-likelihood ratio walks until it
    * crosses ln((1−β)/α) (accept H1) or ln(β/(1−α)) (accept H0), and the
    * crossing DAY is the answer to "when could we have stopped".
    *
    * Exactness: the two per-observation LLR increments are CONSTANTS —
    * they and the bounds are computed once driver-side and embedded as
    * plain double literals (an oracle pastes the same literals — ln's
    * libm provenance never enters the comparison); each day's term
    * s·lnA + (t−s)·lnB quantizes DECIMAL(28,9) before the cumulative
    * window over the calendar-bounded day series. */
  def sprt(events: DataFrame, tsCol: String, success: Column,
           p0: Double, p1: Double,
           alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    val lnA = math.log(p1 / p0)
    val lnB = math.log((1 - p1) / (1 - p0))
    val upper = math.log((1 - beta) / alpha)
    val lower = math.log(beta / (1 - alpha))
    val daily = events
      .groupBy(date_format(col(tsCol), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("t"), sum(when(success, 1L).otherwise(0L)).as("s"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val term = (col("s").cast("double") * lnA +
      (col("t") - col("s")).cast("double") * lnB).cast("decimal(28,9)")
    daily.withColumn("llr", sum(term).over(w))
      .select(min(when(col("llr").cast("double") >= upper ||
          col("llr").cast("double") <= lower, col("day"))).as("crossing_day"),
        count(lit(1)).as("n_days"),
        max(struct(col("day"), col("llr"))).as("fin"))
      .select(col("crossing_day"), col("n_days").cast("long").as("n_days"),
        col("fin.llr").cast("double").as("final_llr"),
        when(col("fin.llr").cast("double") >= upper, lit("accept_h1"))
          .when(col("fin.llr").cast("double") <= lower, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** Levene variance-homogeneity test (Levene 1960, mean-centered form):
    * "do these groups have the SAME SPREAD" — the precondition check for
    * [[anovaF]] (whose F assumes equal variances) and the dispersion-
    * drift alarm an equal-means comparison silently misses. W is
    * literally the one-way ANOVA F computed on |x − x̄_g|.
    *
    * Centers are exact-decimal-sum means (ONE double division each —
    * bit-identical in any engine), so every |x − x̄_g| has identical bits
    * cross-engine and the DECIMAL(18,6) quantization before [[anovaF]]'s
    * moment sums can never straddle a rounding boundary differently.
    * (The Brown–Forsythe MEDIAN variant is deliberately not used here:
    * interpolated medians are engine-library arithmetic with no bit
    * contract — a hash-checked pipeline centers on means.) */
  def leveneTest(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    // EXACT integer micro-units end to end: the obvious
    // |x − mean|.cast(decimal) quantization is NOT engine-portable — a
    // /2^k·5 group size gives the mean a terminating decimal expansion,
    // |x − mean|·10^s lands exactly on a representable ·5 double, and the
    // two engines' double→decimal tie rules disagree (observed on real
    // data). So: cents are exact, the center is the HALF-UP integer
    // division (2·s·10⁴ + n) div (2n) in micro-dollars, and deviations
    // are exact integer differences — no double exists anywhere before
    // anovaF's final chain.
    val cents = (value.cast("decimal(18,2)") * 100).cast("decimal(28,0)")
    val ctr = df.groupBy(col(groupCol))
      .agg(sum(cents).cast("long").as("scl"), count(lit(1)).as("ng"))
    val dev = df.join(ctr, Seq(groupCol))
      .withColumn("xm", cents.cast("long"))
      .withColumn("mm", expr("(scl * 2 + ng) div (2 * ng)")) // half-up mean, exact
      .select(col(groupCol).as("grp"),
        abs(col("xm") - col("mm")).cast("decimal(28,0)").as("adev"))
    // anovaF's lattice, re-quantized for cent-unit magnitudes: the
    // S1²/n term needs DECIMAL(38,6) headroom (28,9 caps at 1e19)
    val g = dev.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("adev").as("s1"),
        sum(col("adev") * col("adev")).as("s2"))
      .select(col("n"), col("s1"), col("s2"),
        (col("s1").cast("double") * col("s1").cast("double") /
          col("n").cast("double")).cast("decimal(38,6)").as("term"))
    g.agg(count(lit(1)).as("k"), sum("n").as("n"),
        sum("s1").cast("double").as("t1d"), sum("s2").cast("double").as("t2d"),
        sum("term").cast("double").as("qsumd"))
      .select(col("k"), col("n"),
        (col("qsumd") - col("t1d") * col("t1d") / col("n").cast("double"))
          .as("ss_between"),
        (col("t2d") - col("qsumd")).as("ss_within"))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        (col("ss_between") / (col("k") - 1).cast("double") /
          (col("ss_within") / (col("n") - col("k")).cast("double"))).as("w_stat"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013,
    * "Improving the Sensitivity of Online Controlled Experiments") — the
    * standard pre-period-covariate adjustment: Y_adj = Y − θ(X − μx) with
    * θ = cov(X,Y)/var(X) fit POOLED across arms, where X is the unit's
    * pre-period metric. Same experiment family as [[abTest]]/[[srmCheck]];
    * this is the step that makes small lifts detectable without more
    * traffic. Units here are (user, day): Y = that day's exact metric sum,
    * X = the SAME user's previous-day total (0 on the first day — classic
    * missing-pre-period handling), arm = user parity (cluster-randomized
    * shape: all of a user's units share an arm).
    *
    * Exactness: unit Y is an exact decimal sum re-quantized to (18,6);
    * moment sums (Sx, Sy, Sxy, Sxx, Syy) are exact decimal products/sums —
    * order-independent — and θ, means, and the variance-reduction ratio
    * ρ² = θ²·var(X)/var(Y) are ONE fixed double chain over those exact
    * moments, mirrored verbatim in the oracle. Scale: one (user, day) hash
    * aggregate (map-side partials), one user-partitioned lag window, one
    * global + one per-arm moment aggregate; the pooled moments are a 1-row
    * broadcast. Nothing row-scaled crosses the wire after the first agg. */
  def cuped(events: DataFrame, userCol: String, tsCol: String,
            valCol: String): DataFrame = {
    val units = events
      .groupBy(col(userCol).as("u"), date_format(col(tsCol), "yyyy-MM-dd").as("day"))
      .agg(sum(col(valCol).cast("decimal(18,6)")).as("ysum"))
    val w = Window.partitionBy("u").orderBy("day")
    val ux = units.select(col("u"),
        col("ysum").cast("decimal(18,6)").as("y"),
        coalesce(lag(col("ysum"), 1).over(w), lit(0))
          .cast("decimal(18,6)").as("x"))
      .select(col("u"), col("y"), col("x"),
        // products re-quantized scale-6: exact (inputs carry ≤4 decimals)
        // and it keeps the moment SUMS inside double-exact unscaled range —
        // scale-12 sums overflow 2^53 and pick up 1-ULP engine skew (the
        // q194/twap micro-unit rule, in decimal form)
        (col("x") * col("y")).cast("decimal(28,6)").as("xy"),
        (col("x") * col("x")).cast("decimal(28,6)").as("xx"),
        (col("y") * col("y")).cast("decimal(28,6)").as("yy"))
      .localCheckpoint() // pooled + per-arm consumers of one lag pass
    def d(c: Column) = c.cast("double")
    val pooled = ux.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("xy").as("sxy"),
      sum("xx").as("sxx"), sum("yy").as("syy"))
    val byArm = ux.groupBy((col("u") % 2).cast("string").as("arm"))
      .agg(count(lit(1)).as("n_units"), sum("x").as("asx"), sum("y").as("asy"))
    val nd = d(col("n"))
    val covxy = d(col("sxy")) - d(col("sx")) * d(col("sy")) / nd
    val varx = d(col("sxx")) - d(col("sx")) * d(col("sx")) / nd
    val vary = d(col("syy")) - d(col("sy")) * d(col("sy")) / nd
    val theta = covxy / varx
    val mux = d(col("sx")) / nd
    val meanY = d(col("asy")) / d(col("n_units"))
    val meanX = d(col("asx")) / d(col("n_units"))
    byArm.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_units"),
        meanY.as("mean_y"),
        (meanY - theta * (meanX - mux)).as("mean_y_adj"),
        theta.as("theta"),
        (theta * theta * varx / vary).as("var_reduction"))
      .orderBy("arm")
  }

  /** Multinomial Naive Bayes, trained and scored in one distributed pass
    * structure — the classical count-based text classifier (add-one
    * smoothing), the cheap router/labeler a data pipeline trains ON the
    * corpus it curates (e.g. source/language routing before expensive
    * models see a byte). Train: class priors P(c) = docs_c/docs and
    * conditionals P(t|c) = (count(t,c)+1)/(tokens_c+V). Score: for every
    * document and class, log P(c) + Σ_occurrences log P(t|c); predict the
    * argmax (ties → lexicographically smallest class, a total order).
    *
    * Exactness: each per-token log quantizes to DECIMAL(28,9) BEFORE the
    * per-(doc,class) sum (the [[Curation.unigramLogLikelihood]] recipe), so
    * scores are order-independent and argmax is engine-stable.
    *
    * Scale shape: the model is (V×C + C) rows — vocabulary-sized, built
    * with one token-keyed map-side-combined shuffle and DENSIFIED by a
    * vocab×classes cross (zero counts must exist: a class missing a token
    * still pays its smoothed log). Scoring joins occurrences to the model
    * on the token key (AQE broadcasts a small model; a giant vocab falls
    * back to a plain hash join) — rows never cross-join with rows. */
  def naiveBayes(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String): DataFrame = {
    val dt = docs.select(col(idCol), col(labelCol).as("cls"),
        explode(Curation.tokens(col(textCol))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classTotals = dt.groupBy("cls").agg(count(lit(1)).as("tokens_c"))
    val docsPerClass = docs.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("docs_c"))
    val totals = docs.agg(count(lit(1)).as("docs_n"))
      .crossJoin(dt.select("tok").distinct().agg(count(lit(1)).as("vocab_v")))
    val counts = dt.groupBy("tok", "cls").agg(count(lit(1)).as("ctc"))
    val model = dt.select("tok").distinct()
      .crossJoin(classTotals)
      .join(counts, Seq("tok", "cls"), "left")
      .na.fill(0L, Seq("ctc"))
      .crossJoin(broadcast(totals))
      .select(col("tok"), col("cls"),
        log((col("ctc") + 1).cast("double") /
            (col("tokens_c") + col("vocab_v")).cast("double"))
          .cast("decimal(28,9)").as("lp"))
    val priors = docsPerClass.crossJoin(broadcast(totals))
      .select(col("cls"),
        log(col("docs_c").cast("double") / col("docs_n").cast("double"))
          .cast("decimal(28,9)").as("prior_lp"))
    val scored = dt.select(col(idCol), col("tok"))
      .join(model, Seq("tok"))
      .groupBy(col(idCol), col("cls"))
      // sum(decimal(28,9)) widens to (38,9); adding the prior would bust
      // precision 38 and silently DROP the scale to 8 (the decimal-sum
      // gotcha) — re-narrow first, the sum is ~token_count × ln-sized
      .agg(sum("lp").cast("decimal(28,9)").as("sum_lp"))
      .join(broadcast(priors), Seq("cls"))
      .select(col(idCol), col("cls"),
        (col("sum_lp") + col("prior_lp")).as("score"))
    val out = scored
      .groupBy(idCol)
      .agg(min(struct((-col("score")).as("ns"), col("cls").as("cls"),
        col("score").as("score"))).as("best"))
      .select(col(idCol), col("best.cls").as("pred"),
        col("best.score").cast("double").cast("decimal(18,6)").cast("double")
          .as("score"))
      .join(docs.select(col(idCol), col(labelCol).as("truth")), Seq(idCol))
      .withColumn("correct", (col("pred") === col("truth")).cast("int"))
      .orderBy(idCol)
    val materialized = out.localCheckpoint(true)
    dt.unpersist()
    materialized
  }

  /** Isotonic regression (calibration curve fit) over score bins, via the
    * minimax closed form: fitted(b) = max_{i≤b} min_{j≥b} wavg(y, i..j) —
    * exactly the pool-adjacent-violators solution, computed as joins over
    * the BIN table instead of the inherently sequential PAV merge loop.
    * This is how a monotone calibration map (score → P(label)) is fit at
    * 100 TB: raw rows collapse to ≤`bins` cells in one hash aggregate (the
    * only corpus-sized work), and the B²/B³ interval tables are
    * contract-small (bins ≤ 1000 ⇒ ≤10⁹ cheap integer rows at the extreme,
    * ≤10⁴ at the default 16).
    *
    * Exactness: interval averages are ONE double division of exact integer
    * sums, quantized to DECIMAL(18,9) BEFORE the min/max lattice — the
    * fit compares identical decimals in any engine.
    *
    * [lo, hi] are caller-fixed bin bounds (the [[Analytics.histogram]]
    * parity recipe — no data-dependent float bounds to disagree over). */
  def isotonicFit(df: DataFrame, scoreCol: String, labelCol: Column,
                  lo: Double, hi: Double, bins: Int = 16): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins in [2,1000]")
    val w = (hi - lo) / bins
    val b = least(lit(bins - 1), greatest(lit(0),
      floor((col(scoreCol).cast("double") - lit(lo)) / lit(w)))).cast("int")
    val cells = df.select(b.as("bin"), labelCol.cast("int").as("y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("sy"))
      .localCheckpoint()
    // prefix sums over ≤bins rows: the one-partition window is fine HERE
    // because the frame is bin-sized by construction, never row-sized
    val ws = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    val pre = cells
      .withColumn("cn", sum("n").over(ws))
      .withColumn("csy", sum("sy").over(ws))
    val starts = pre.select(col("bin").as("i"),
      (col("cn") - col("n")).as("cn0"), (col("csy") - col("sy")).as("csy0"))
    val ends = pre.select(col("bin").as("j"), col("cn").as("cn1"), col("csy").as("csy1"))
    val ivals = starts.join(ends, col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("csy1") - col("csy0")).cast("double") /
          (col("cn1") - col("cn0")).cast("double")).cast("decimal(18,9)").as("a"))
    val fitted = cells.select(col("bin"), col("n"), col("sy"))
      .join(ivals, col("i") <= col("bin") && col("j") >= col("bin"))
      .groupBy(col("bin"), col("n"), col("sy"), col("i"))
      .agg(min("a").as("mi"))
      .groupBy("bin", "n", "sy")
      .agg(max("mi").as("fit"))
    fitted.select(col("bin"), col("n"),
        (col("sy").cast("double") / col("n").cast("double"))
          .cast("decimal(18,6)").cast("double").as("mean_y"),
        // render via double FIRST: DuckDB's decimal→decimal downscale
        // truncates while Spark's rounds; the double hop makes both
        // engines quantize the identical IEEE value
        col("fit").cast("double").cast("decimal(18,6)").cast("double").as("fitted"))
      .orderBy("bin")
  }

  /** Split conformal prediction intervals — the distribution-free coverage
    * guarantee (Vovk; Lei et al.): fit on the train split, take the
    * k = ⌈(1−α)(n_cal+1)⌉-th smallest absolute calibration residual as the
    * radius q̂, and every test prediction gets [ŷ−q̂, ŷ+q̂] with
    * P(y ∈ interval) ≥ 1−α. The splits are md5-deterministic (no RNG), the
    * model is the exact per-group train mean with a global fallback, and
    * the order statistic comes from the DISTRIBUTED rank
    * ([[Analytics.globalRowNumber]]) — never a driver sort.
    *
    * Exactness: targets quantize to DECIMAL(18,2) at ingest (money-grain),
    * means to (18,6); residuals are decimal subtractions — so q̂ and every
    * interval bound are identical in any engine, and `covered` is an exact
    * integer comparison. */
  def conformalIntervals(df: DataFrame, idCol: String, groupCol: String,
                         targetCol: String, alpha: Double = 0.1): DataFrame = {
    val y = col(targetCol).cast("decimal(18,2)")
    val bucket = pmod(conv(substring(md5(concat(lit("conf:"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long"), lit(100L))
    val tagged = df.select(col(idCol), col(groupCol).as("grp"), y.as("y"),
        when(bucket < 60, "train").when(bucket < 80, "cal").otherwise("test")
          .as("split"))
      .localCheckpoint()
    val train = tagged.filter(col("split") === "train")
    val model = train.groupBy("grp")
      .agg((sum("y").cast("double") / count(lit(1)).cast("double"))
        .cast("decimal(18,6)").as("yhat_g"))
    val fallback = train.agg((sum("y").cast("double") / count(lit(1)).cast("double"))
      .cast("decimal(18,6)").as("yhat_all"))
    def predicted(split: String): DataFrame = tagged
      .filter(col("split") === split)
      .join(broadcast(model), Seq("grp"), "left")
      .crossJoin(broadcast(fallback))
      .withColumn("yhat", coalesce(col("yhat_g"), col("yhat_all")))
    val cal = predicted("cal")
      .select(col(idCol), abs(col("y") - col("yhat")).as("r"))
    val nCal = cal.count()
    val k = math.min(nCal, math.ceil((1 - alpha) * (nCal + 1)).toLong)
    val qhat = Analytics.globalRowNumber(cal, Seq("r", idCol), "rnk")
      .filter(col("rnk") === k).select(col("r").as("qhat"))
    predicted("test")
      .crossJoin(broadcast(qhat))
      .select(col(idCol), col("grp"),
        col("yhat").cast("double").as("yhat"),
        (col("yhat") - col("qhat")).cast("double").as("lo"),
        (col("yhat") + col("qhat")).cast("double").as("hi"),
        (col("y") >= col("yhat") - col("qhat") &&
          col("y") <= col("yhat") + col("qhat")).cast("int").as("covered"))
      .orderBy(idCol)
  }

  /** Mann–Whitney U rank-sum test — the nonparametric two-sample location
    * test (Mann & Whitney 1947), i.e. "did the metric's DISTRIBUTION shift
    * between cohort A and cohort B" without assuming normality; the
    * significance-test companion of [[groupedAuc]] (U/(n1·n2) IS the AUC).
    *
    * Never ranks raw rows (the [[groupedAuc]]/[[Analytics.spearmanByGroup]]
    * collapse): one hash aggregate shrinks to per-distinct-value (nA, nB)
    * counts and the rank window runs over that margin. Ranks use the
    * DOUBLED average-rank 2·cumBefore + cnt + 1 — an integer — so
    * 2·R1 = Σ nA·(2·cumBefore+cnt+1) is an exact decimal sum, the tie term
    * Σ(t³−t) is an exact decimal sum, and the tie-corrected normal
    * approximation z = (2U1 − n1·n2) / (2·√(n1·n2/12·((n+1) − T/(n(n−1)))))
    * is ONE fixed double chain over those exact sums, mirrored verbatim in
    * the oracle and quantized scale 9. The margin window is single-partition
    * by construction (a global rank has no partition key) — acceptable
    * because it sees |distinct values|, not |rows|; quantize a
    * near-continuous metric first (the spearman note). */
  def mannWhitney(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val cells = df.groupBy(value.as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("na"),
           sum(when(inA, 0L).otherwise(1L)).as("nb"))
      .withColumn("cnt", col("na") + col("nb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cumBefore", sum("cnt").over(w) - col("cnt"))
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val agg = ranked.agg(
      sum("na").as("n1"), sum("nb").as("n2"),
      sum(c19(col("na")) *
        c19(lit(2) * col("cumBefore") + col("cnt") + 1)).as("r2"),
      sum((c19(col("cnt")) * col("cnt") * col("cnt"))
        .cast("decimal(38,0)") - col("cnt")).as("tie3"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val nn = n1 + n2
    // 2·U1 = 2·R1 − n1·(n1+1), exact in decimal
    val twoU = (col("r2") - c19(col("n1")) * (col("n1") + 1))
      .cast("decimal(38,0)")
    val varU = n1 * n2 / 12d *
      ((nn + 1d) - col("tie3").cast("double") / (nn * (nn - 1d)))
    agg.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        (twoU.cast("double") / 2).as("u1"),
        when(varU > 0d,
          ((twoU.cast("double") - n1 * n2) / (lit(2d) * sqrt(varU)))
            .cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Per-key share test: the p-like score feeding [[benjaminiHochberg]].
    * For each key with count n_k out of N total across m keys, the
    * one-cell z² against the uniform null π=1/m is
    * (n_k − Nπ)²/(Nπ(1−π)) and the score is the Chernoff tail bound
    * p = exp(−z²/2) — monotone in |z|, in (0,1], and engine-exact once
    * quantized to scale 9 (a true normal CDF needs erf, which neither
    * engine guarantees bit-identical; any real p-value column plugs into
    * [[benjaminiHochberg]] unchanged). Counts are exact; z² and exp run in
    * one double chain mirrored in the oracle. */
  def shareTestPValues(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_k")).localCheckpoint()
    val totals = counts.agg(sum("n_k").as("n_total"),
      count(lit(1)).as("m"))
    val nT = col("n_total").cast("double"); val m = col("m").cast("double")
    val expd = nT / m
    val z2 = (col("n_k").cast("double") - expd) *
      (col("n_k").cast("double") - expd) / (expd * (lit(1d) - lit(1d) / m))
    counts.crossJoin(broadcast(totals))
      .select(col("key"), col("n_k"),
        exp(z2 * -0.5d).cast("decimal(18,9)").as("p"))
  }

  /** Benjamini–Hochberg step-up FDR adjustment (Benjamini & Hochberg 1995)
    * over m simultaneous hypotheses — the multiple-testing control a
    * metrics platform applies when it runs [[abTest]]/[[srmCheck]]-style
    * tests across MANY segments at once (m tests at α each ⇒ ~mα false
    * alarms; BH caps the FALSE DISCOVERY RATE at α instead).
    *
    * q_(i) = min_{j≥i} p_(j)·m/j, clamped to 1: rank by (p, key) — the key
    * tiebreak makes the order total, so ranks are engine-stable given
    * pre-quantized p (both producers here quantize scale 9) — then a
    * reverse running min over the rank order. Both windows are
    * single-partition over M ROWS where m = #hypotheses (segments, not
    * data): BH is inherently a total order over the tests themselves.
    * Each q is p·m/j double-divided once then re-quantized scale 9. */
  def benjaminiHochberg(pvals: DataFrame, keyCol: String, pCol: String,
                        alpha: Double = 0.05): DataFrame = {
    val m = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wUp = Window.orderBy(col(pCol), col(keyCol))
    val wDown = Window.orderBy(col(pCol).desc, col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the whole lattice runs in EXACT nano-unit integers: p is scale-9 by
    // producer contract, so p·m stays integral and the only division is a
    // FLOOR div (identical in both engines) — a double p·m/rnk re-quantized
    // to scale 9 was observed to ulp-flip at a rounding boundary (q317)
    pvals
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("rnk", row_number().over(wUp))
      .withColumn("q_raw",
        expr(s"(CAST(round(CAST($pCol AS DOUBLE) * 1e9) AS BIGINT) * m) div rnk"))
      .withColumn("q_nano",
        least(lit(1000000000L), min("q_raw").over(wDown)))
      // the REJECTION uses the exact rational p·m ≤ α·rnk (integers both
      // sides — no floor-div bias): the floor in q_raw is < 1e-9 low, which
      // at an exact boundary could flip q_nano ≤ α_nano even though the
      // true BH condition fails; the displayed q keeps the floored lattice
      // (mirrored in the oracle), the rejected flag is exact step-up
      .withColumn("ok_rnk",
        when(expr(s"CAST(round(CAST($pCol AS DOUBLE) * 1e9) AS BIGINT) * m <= " +
          s"${math.round(alpha * 1e9)} * rnk"), col("rnk")))
      .withColumn("i_star", coalesce(max("ok_rnk").over(m), lit(0L)))
      .select(col(keyCol), col(pCol).cast("double").as("p"),
        col("rnk").cast("long").as("rnk"),
        (col("q_nano").cast("double") / 1e9d).as("q"),
        (col("rnk") <= col("i_star")).cast("int").as("rejected"))
      .orderBy("rnk")
  }

  /** Holm–Bonferroni step-DOWN adjustment (Holm 1979) — the
    * FAMILY-WISE-ERROR companion of [[benjaminiHochberg]]'s FDR
    * control: when even ONE false positive is unacceptable (a launch /
    * no-launch gate, a safety metric), Holm controls P(any false
    * rejection) ≤ α and uniformly dominates plain Bonferroni
    * ((m−i+1) ≤ m at every rank).
    * adj_(i) = max_{j≤i} min((m−j+1)·p_(j), 1); reject every rank
    * before the first i with p_(i) > α/(m−i+1).
    *
    * Same shape and exactness lattice as BH: rank by (p, key) — total
    * order given producer-quantized scale-9 p — then a running MAX
    * (step-down) instead of BH's reverse running min. Single-partition
    * windows over M HYPOTHESES (segments, not data). Everything stays
    * in exact nano-unit integers: (m−i+1)·p_nano is an integer product
    * and the rejection test p_nano·(m−i+1) > α_nano is exact — no
    * division anywhere, so not even BH's floor-div caveat applies. */
  def holmBonferroni(pvals: DataFrame, keyCol: String, pCol: String,
                     alpha: Double = 0.05): DataFrame = {
    val m = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wUp = Window.orderBy(col(pCol), col(keyCol))
    val wCum = Window.orderBy(col(pCol), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pvals
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("rnk", row_number().over(wUp))
      .withColumn("a_raw",
        least(lit(1000000000L),
          expr(s"CAST(round(CAST($pCol AS DOUBLE) * 1e9) AS BIGINT) * (m - rnk + 1)")))
      .withColumn("adj_nano", max("a_raw").over(wCum))
      .withColumn("bad_rnk",
        when(expr(s"CAST(round(CAST($pCol AS DOUBLE) * 1e9) AS BIGINT) * (m - rnk + 1) > " +
          s"${math.round(alpha * 1e9)}"), col("rnk")))
      .withColumn("i_star", coalesce(min("bad_rnk").over(m), col("m") + lit(1L)))
      .select(col(keyCol), col(pCol).cast("double").as("p"),
        col("rnk").cast("long").as("rnk"),
        (col("adj_nano").cast("double") / 1e9d).as("p_adj"),
        (col("rnk") < col("i_star")).cast("int").as("rejected"))
      .orderBy("rnk")
  }

  /** Benjamini–Yekutieli FDR adjustment (Benjamini & Yekutieli 2001) —
    * completes the multiple-testing trio beside [[benjaminiHochberg]]
    * (independence/PRDS) and [[holmBonferroni]] (FWER): BH's guarantee
    * can fail under ARBITRARY dependence between the tests (overlapping
    * segments, correlated metrics); BY pays the harmonic factor
    * c(m) = Σ 1/i to stay valid no matter how the p-values correlate.
    * q_(i) = min_{j≥i} p_(j)·m·c(m)/j, clamped to 1.
    *
    * Same single-partition M-hypotheses lattice as BH. c(m) in exact
    * integer nano units as Σ (10⁹ div i) over the rank rows themselves
    * (floor-div — identical both engines, no libm); the displayed q is
    * a mirrored double chain in nano fixed-point, but the REJECTION is
    * the exact integer product test p_nano·m·c_nano ≤ α_nano·rnk·10⁹
    * (decimal(38,0) both sides — no floor bias, no rounding at all). */
  def benjaminiYekutieli(pvals: DataFrame, keyCol: String, pCol: String,
                         alpha: Double = 0.05): DataFrame = {
    val m = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wUp = Window.orderBy(col(pCol), col(keyCol))
    val wDown = Window.orderBy(col(pCol).desc, col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val aNano = math.round(alpha * 1e9)
    pvals
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("rnk", row_number().over(wUp))
      .withColumn("pn", expr(s"CAST(round(CAST($pCol AS DOUBLE) * 1e9) AS BIGINT)"))
      .withColumn("cn", sum(expr("1000000000 div rnk")).over(m))
      .withColumn("q_raw",
        least(lit(1000000000L),
          expr("CAST(round(CAST(pn AS DOUBLE) / 1e9 * m * (CAST(cn AS DOUBLE) / 1e9)" +
            " / rnk * 1e9) AS BIGINT)")))
      .withColumn("q_nano", min("q_raw").over(wDown))
      .withColumn("ok_rnk",
        when(expr("CAST(pn AS DECIMAL(38,0)) * m * cn <= " +
          s"CAST($aNano AS DECIMAL(38,0)) * rnk * 1000000000"), col("rnk")))
      .withColumn("i_star", coalesce(max("ok_rnk").over(m), lit(0L)))
      .select(col(keyCol), col(pCol).cast("double").as("p"),
        col("rnk").cast("long").as("rnk"),
        (col("q_nano").cast("double") / 1e9d).as("q"),
        (col("rnk") <= col("i_star")).cast("int").as("rejected"))
      .orderBy("rnk")
  }

  /** Mann–Kendall trend test per series group (Mann 1945; Kendall 1975) —
    * "is this metric monotonically drifting", the distribution-free
    * companion of [[Analytics.theilSen]] (same S statistic family; Theil–Sen
    * gives the slope, Mann–Kendall gives the significance). Input is ONE
    * ROW PER TIME STEP per group (aggregate first, e.g. orders → monthly
    * counts): series length n is calendar-bounded, so the within-group
    * pair self-join is n²-per-group over a DIM-SIZED table — never raw rows.
    *
    * S = Σ_{i<j} sign(x_j − x_i) (exact integer), tie term Σ t(t−1)(2t+5)
    * from per-value tie counts (exact), Var(S) = (n(n−1)(2n+5) − ties)/18,
    * and the continuity-corrected z = (S∓1)/√Var(S) is one double chain
    * quantized scale 9. */
  def mannKendall(series: DataFrame, groupCol: String, tCol: String,
                  valueCol: String): DataFrame = {
    val base = series.select(col(groupCol).as("grp"), col(tCol).as("t"),
      col(valueCol).as("x")).localCheckpoint() // pair join + tie scan
    val a = base.select(col("grp"), col("t").as("ta"), col("x").as("xa"))
    val b = base.select(col("grp"), col("t").as("tb"), col("x").as("xb"))
    val s = a.join(b, Seq("grp")).filter(col("ta") < col("tb"))
      .groupBy("grp")
      .agg(sum(signum(col("xb") - col("xa")).cast("long")).as("s"))
    val ties = base.groupBy("grp", "x").agg(count(lit(1)).as("t"))
      .groupBy("grp").agg(count(lit(1)).as("n_vals"), sum("t").as("n"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"))
    val nd = col("n").cast("double")
    val varS = (nd * (nd - 1d) * (lit(2d) * nd + 5d) -
      col("tie_term").cast("double")) / 18d
    val sd = col("s").cast("double")
    ties.join(s, Seq("grp"))
      .select(col("grp"), col("n").cast("long").as("n"),
        col("s").cast("long").as("s"),
        when(varS > 0d,
          (when(col("s") > 0, (sd - 1d) / sqrt(varS))
            .when(col("s") < 0, (sd + 1d) / sqrt(varS))
            .otherwise(lit(0d))).cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("z"))
      .orderBy("grp")
  }

  /** Seasonal Mann–Kendall trend test (Hirsch & Slack 1984) — the
    * [[mannKendall]] every operational series actually needs: compare
    * Januaries with Januaries so seasonality neither fakes nor masks a
    * trend. S sums across seasons; so does Var — and because 18·Var(S)
    * per season is an EXACT INTEGER (n(n−1)(2n+5) − Σt(t−1)(2t+5)), the
    * combined variance is an exact integer sum with ONE division; the
    * continuity-corrected z is one mirrored chain. Input one row per
    * (season, period); within-season pair joins are span-bounded. */
  def seasonalMannKendall(series: DataFrame, seasonCol: Column, tCol: String,
                          valueCol: String): DataFrame = {
    val base = series.select(seasonCol.as("season"), col(tCol).as("t"),
      col(valueCol).as("x")).localCheckpoint() // pair join + tie scan
    val a = base.select(col("season"), col("t").as("ta"), col("x").as("xa"))
    val b = base.select(col("season"), col("t").as("tb"), col("x").as("xb"))
    val s = a.join(b, Seq("season")).filter(col("ta") < col("tb"))
      .groupBy("season")
      .agg(sum(signum(col("xb") - col("xa")).cast("long")).as("s"))
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val ties = base.groupBy("season", "x").agg(count(lit(1)).as("tc"))
      .groupBy("season").agg(sum("tc").as("n"),
        sum((c19(col("tc")) * (col("tc") - 1) * (lit(2) * col("tc") + 5))
          .cast("decimal(38,0)")).as("tieTerm"))
    // LEFT join: a season with only one period has no (ta < tb) pairs and
    // so no S row — it must still appear (s = 0) and count toward n_total,
    // or the reported sample size understates the data (S and Var
    // contributions are legitimately 0, so z is unaffected either way)
    val per = ties.join(s, Seq("season"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .withColumn("var18",
        ((c19(col("n")) * (col("n") - 1) * (lit(2) * col("n") + 5))
          .cast("decimal(38,0)") - col("tieTerm")).cast("decimal(38,0)"))
      .localCheckpoint() // totals + the per-season listing
    val tot = per.agg(sum("s").as("sTot"), sum("var18").as("v18"),
      sum("n").as("nTot"))
    val sd = col("sTot").cast("double")
    val varS = col("v18").cast("double") / 18d
    val z = when(varS > 0d,
      (when(col("sTot") > 0, (sd - 1d) / sqrt(varS))
        .when(col("sTot") < 0, (sd + 1d) / sqrt(varS))
        .otherwise(lit(0d))).cast("decimal(18,9)").cast("double"))
      .otherwise(lit(null).cast("double"))
    val global = tot.select(col("sTot").cast("long").as("s_total"),
      col("nTot").cast("long").as("n_total"), z.as("z"))
    per.crossJoin(broadcast(global))
      .select(col("season"), col("n").cast("long").as("n"),
        col("s").cast("long").as("s"), col("s_total"), col("n_total"), col("z"))
      .orderBy("season")
  }

  /** Jonckheere–Terpstra test for ordered alternatives across INDEPENDENT
    * groups — [[pageTrend]]'s unblocked sibling and the ordered question
    * [[kruskalWallis]] can't ask: "do the groups shift UP in their
    * declared order" (groups order by their sorted names). J = Σ_{i<j}
    * U_ij with the standard ½-credit for ties.
    *
    * EXACT J: on the per-group value margin, 2U_ij = Σ_v [2·cnt_i·
    * cumBelow_j + cnt_i·cnt_j] is an integer (cumBelow from a densified
    * group × value grid — margin×k rows, never raw pairs); 4·E[J] =
    * N² − Σn_i² is exact. The normal variance uses the no-tie formula
    * (N²(2N+3) − Σn²(2n+3))/72 — with heavy ties z is slightly
    * conservative (the [[pageTrend]] caveat, documented). */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
                         value: Column): DataFrame = {
    val cells = df.groupBy(value.as("v"), col(groupCol).as("grp"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint() // grid + pair scan
    val margin = cells.select("v").distinct()
    val groups = cells.select("grp").distinct()
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val grid = margin.crossJoin(groups)
      .join(cells, Seq("v", "grp"), "left")
      .na.fill(0L, Seq("cnt"))
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // above_j(v) = n_j − #{x_j ≤ v}: the j-group mass ABOVE each i value
    val cum = grid.withColumn("above",
      sum("cnt").over(Window.partitionBy("grp")) - sum("cnt").over(w))
    val pairRows = cells.select(col("v"), col("grp").as("gi"), col("cnt").as("ci"))
      .join(cum.select(col("v"), col("grp").as("gj"),
        col("cnt").as("cj"), col("above")), Seq("v"))
      .filter(col("gi") < col("gj"))
    val twoJ = pairRows.agg(
      sum((c19(col("ci")) * (lit(2) * col("above") + col("cj")))
        .cast("decimal(38,0)")).as("twoJ"))
    val sizes = cells.groupBy("grp").agg(sum("cnt").as("ng"))
      .agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum((c19(col("ng")) * col("ng")).cast("decimal(38,0)")).as("sn2"),
        sum((c19(col("ng")) * col("ng") * (lit(2) * col("ng") + 3))
          .cast("decimal(38,0)")).as("sn23"))
    val nD = col("n").cast("double")
    val jStat = col("twoJ").cast("double") / 2d
    val eJ = (nD * nD - col("sn2").cast("double")) / 4d
    val varJ = (nD * nD * (lit(2d) * nD + 3d) - col("sn23").cast("double")) / 72d
    twoJ.crossJoin(sizes).select(
      col("k").cast("long").as("k"), col("n").cast("long").as("n"),
      jStat.as("j_stat"),
      eJ.cast("decimal(28,6)").cast("double").as("expected_j"),
      when(varJ > 0d, ((jStat - eJ) / sqrt(varJ))
        .cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Categorical association matrix: Cramér's V (symmetric, χ²-based) and
    * Theil's uncertainty coefficient U(A|B) (asymmetric, entropy-based —
    * "how much of A does knowing B explain") for every requested column
    * pair. The profiling companion of the numeric correlation matrix:
    * V answers "related at all", U answers "in which direction", and
    * together they find redundant/derivable categorical columns before a
    * feature pipeline double-counts them ([[mutualInfo]] generalized to a
    * report).
    *
    * Per pair, ONE (a,b) contingency collapse; χ² terms and the p·ln p
    * entropy terms each quantize DECIMAL(28,9) BEFORE their
    * order-independent sums (the [[naiveBayes]] recipe), and V/U are
    * fixed double chains over those exact sums, scale 6. Cells are
    * |A|×|B|-sized; the raw table is touched once per pair. */
  def categoricalAssociation(df: DataFrame,
                             pairs: Seq[(String, String)]): DataFrame = {
    pairs.map { case (a, b) =>
      val cells = df.groupBy(col(a).cast("string").as("av"),
          col(b).cast("string").as("bv"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val n = cells.agg(sum("c").as("n"), count(lit(1)).as("n_cells"))
      val ra = cells.groupBy("av").agg(sum("c").as("ca")).localCheckpoint()
      val rb = cells.groupBy("bv").agg(sum("c").as("cb")).localCheckpoint()
      // densified grid: χ² REQUIRES the structural zeros — an empty cell
      // still pays (0−e)²/e (the q92/mutualInfo structural-zero rule)
      val joined = ra.crossJoin(rb)
        .join(cells, Seq("av", "bv"), "left")
        .select(col("av"), col("bv"), col("ca"), col("cb"),
          coalesce(col("c"), lit(0L)).as("c"))
        .crossJoin(broadcast(n))
      val nd = col("n").cast("double")
      val e = col("ca").cast("double") * col("cb").cast("double") / nd
      val chiTerm = ((col("c").cast("double") - e) * (col("c").cast("double") - e) / e)
        .cast("decimal(28,9)")
      // entropy terms: H(A) from the a-margin, H(A|B) from the OCCUPIED
      // cells (0·ln 0 = 0 by convention — zero cells contribute nothing)
      val pA = col("ca").cast("double") / nd
      val hATerm = (pA * log(pA)).cast("decimal(28,9)")
      val pAB = col("c").cast("double") / nd
      val hCondTerm = when(col("c") > 0,
        (pAB * log(col("c").cast("double") / col("cb").cast("double")))
          .cast("decimal(28,9)"))
        .otherwise(lit(BigDecimal(0)).cast("decimal(28,9)"))
      val agg = joined.agg(
        first("n").as("n"),
        sum(chiTerm).as("chi2"),
        countDistinct("av").as("r"), countDistinct("bv").as("cdim"),
        sum(hCondTerm).as("hCondNeg"))
      val hA = ra.crossJoin(broadcast(n))
        .agg(sum(hATerm).as("hANeg"))
      val chi = col("chi2").cast("double")
      val minDim = (least(col("r"), col("cdim")) - 1).cast("double")
      val hAd = (col("hANeg").cast("double") * -1d)
      val hCd = (col("hCondNeg").cast("double") * -1d)
      agg.crossJoin(broadcast(hA))
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          when(minDim > 0d && col("n") > 0,
            sqrt(chi / (col("n").cast("double") * minDim))
              .cast("decimal(18,6)").cast("double"))
            .otherwise(lit(null).cast("double")).as("cramers_v"),
          when(hAd > 0d, ((hAd - hCd) / hAd).cast("decimal(18,6)").cast("double"))
            .otherwise(lit(null).cast("double")).as("theils_u"))
    }.reduce(_.unionByName(_)).orderBy("col_a", "col_b")
  }

  /** Best binary split of one feature against a binary label — a depth-1
    * decision tree (stump) by exact weighted Gini impurity: the classical
    * feature-scoring / weak-learner primitive (CART; also THE mutual-
    * information-adjacent "is this feature worth anything" probe, in
    * threshold form).
    *
    * Candidate thresholds are the distinct feature values (quantize a
    * near-continuous feature first — the [[mannWhitney]] margin note). One
    * hash aggregate collapses rows to per-value (n, pos); a cumulative
    * margin window yields exact left-side counts per threshold; the
    * weighted impurity
    * (nL/n)·(1 − pL² − qL²) + (nR/n)·(1 − pR² − qR²)
    * is ONE double chain per threshold quantized scale 9, and the argmin
    * tie-breaks on the threshold — engine-stable. Output also restates the
    * root impurity so the gain is readable. */
  def bestSplit(df: DataFrame, feature: Column, label: Column): DataFrame = {
    val cells = df.groupBy(feature.as("v"))
      .agg(count(lit(1)).as("n"), sum(when(label, 1L).otherwise(0L)).as("pos"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("nl", sum("n").over(w))
      .withColumn("posl", sum("pos").over(w))
      .withColumn("nt", sum("n").over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("post", sum("pos").over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("nl") < col("nt")) // a split must leave a right side
    def gini(p: Column, q: Column): Column =
      lit(1d) - p * p - q * q
    val nl = col("nl").cast("double"); val nt = col("nt").cast("double")
    val nr = nt - nl
    val pl = col("posl").cast("double") / nl
    val pr = (col("post") - col("posl")).cast("double") / nr
    val impurity = (nl / nt) * gini(pl, lit(1d) - pl) +
      (nr / nt) * gini(pr, lit(1d) - pr)
    val pRoot = col("post").cast("double") / nt
    cum.select(col("v"), col("nl"), col("nt"), col("post"),
        impurity.cast("decimal(18,9)").as("g"))
      .agg(min(struct(col("g"), col("v"), col("nl"), col("nt"), col("post"))).as("b"))
      .select(col("b.v").as("threshold"),
        col("b.nl").cast("long").as("n_left"),
        (col("b.nt") - col("b.nl")).cast("long").as("n_right"),
        col("b.g").cast("double").as("split_gini"),
        (gini(col("b.post").cast("double") / col("b.nt").cast("double"),
          lit(1d) - col("b.post").cast("double") / col("b.nt").cast("double")))
          .cast("decimal(18,9)").cast("double").as("root_gini"))
  }

  /** Stratified inverse-propensity-weighted treatment effect (Horvitz–
    * Thompson / IPW): within each stratum s the propensity is the OBSERVED
    * treated share p_s = n1_s/n_s, so the weighted outcome means are
    * μ̂1 = (1/N)·Σ_s Σ_{i∈1,s} y_i·n_s/n1_s (and symmetrically μ̂0) and
    * ATE = μ̂1 − μ̂0 — the standard confounder adjustment when treatment
    * assignment varies by stratum ([[cuped]] reduces variance; this
    * removes stratum-composition bias).
    *
    * Exactness: per-stratum sums are exact decimals; each stratum's
    * reweighted term sum_y·n_s/n1_s is one double chain quantized
    * DECIMAL(28,9) BEFORE the cross-strata sum; the final /N and
    * subtraction mirror in the oracle. Strata with a missing arm
    * contribute nothing to either mean (positivity violation —
    * reported in `n_degenerate`). */
  def ipwEffect(df: DataFrame, strataCol: String, treated: Column,
                outcome: Column): DataFrame = {
    val cells = df.groupBy(col(strataCol).as("s"))
      .agg(count(lit(1)).as("n"),
        sum(when(treated, 1L).otherwise(0L)).as("n1"),
        sum(when(treated, outcome.cast("decimal(18,2)"))
          .otherwise(lit(BigDecimal(0)))).as("y1"),
        sum(when(treated, lit(BigDecimal(0)))
          .otherwise(outcome.cast("decimal(18,2)"))).as("y0"))
    val ok = col("n1") > 0 && col("n1") < col("n")
    val term1 = (col("y1").cast("double") * col("n").cast("double") /
      col("n1").cast("double")).cast("decimal(28,9)")
    val term0 = (col("y0").cast("double") * col("n").cast("double") /
      (col("n") - col("n1")).cast("double")).cast("decimal(28,9)")
    val g = cells.agg(sum("n").as("n_total"),
      sum(when(ok, lit(0)).otherwise(lit(1))).as("n_degenerate"),
      sum(when(ok, term1)).as("t1"),
      sum(when(ok, term0)).as("t0"),
      sum(when(ok, col("n")).otherwise(lit(0L))).as("n_ok"))
    val nOk = col("n_ok").cast("double")
    g.select(col("n_total").cast("long").as("n_total"),
      col("n_degenerate").cast("long").as("n_degenerate"),
      (col("t1").cast("double") / nOk).cast("decimal(18,6)").cast("double").as("mu_treated"),
      (col("t0").cast("double") / nOk).cast("decimal(18,6)").cast("double").as("mu_control"),
      ((col("t1").cast("double") / nOk) - (col("t0").cast("double") / nOk))
        .cast("decimal(18,6)").cast("double").as("ate"))
  }

  /** McNemar's test for paired binary outcomes (McNemar 1947) — "did the
    * per-unit condition CHANGE between two observations", e.g. user active
    * before vs after a release. Unlike two independent proportions, only
    * the DISCORDANT units carry signal: χ² = (|b−c|−1)²/(b+c) (continuity
    * corrected) where b = yes→no and c = no→yes.
    *
    * One unit-keyed hash aggregate collapses raw rows to two flags per
    * unit (max of each condition — any qualifying row counts), one global
    * aggregate produces the four exact cell counts, and χ² is a single
    * double chain over b and c quantized scale 9. Degenerate b+c=0 →
    * NULL (no discordance, test undefined). */
  def mcnemar(df: DataFrame, unitCol: String, beforeCond: Column,
              afterCond: Column): DataFrame = {
    val units = df.groupBy(col(unitCol).as("u"))
      .agg(max(when(beforeCond, 1).otherwise(0)).as("fb"),
           max(when(afterCond, 1).otherwise(0)).as("fa"))
    val cells = units.agg(
      sum((col("fb") === 1 && col("fa") === 1).cast("long")).as("n11"),
      sum((col("fb") === 1 && col("fa") === 0).cast("long")).as("n10"),
      sum((col("fb") === 0 && col("fa") === 1).cast("long")).as("n01"),
      sum((col("fb") === 0 && col("fa") === 0).cast("long")).as("n00"))
    val b = col("n10").cast("double"); val c = col("n01").cast("double")
    cells.select(col("n11").cast("long").as("n11"), col("n10").cast("long").as("n10"),
      col("n01").cast("long").as("n01"), col("n00").cast("long").as("n00"),
      when(col("n10") + col("n01") > 0,
        ((abs(b - c) - 1d) * (abs(b - c) - 1d) / (b + c))
          .cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("chi2"))
  }

  /** Cochran–Armitage trend test (Cochran 1954; Armitage 1955) — "does the
    * success proportion trend MONOTONICALLY across ordered dose levels",
    * the ordered-alternative upgrade of the k-proportion chi-square (which
    * wastes the ordering): e.g. completion rate across priority tiers.
    *
    * Doses collapse to per-level (w_i, n_i, r_i) in one hash aggregate;
    * the five moment sums (N, R, Σwn, Σw²n, Σwr) are exact integers
    * (integer dose weights), and z = T/√Var with
    * T = Σwr − R·Σwn/N, Var = (R/N)(1−R/N)·(Σw²n − (Σwn)²/N)
    * is ONE double chain over them, mirrored in the oracle, scale 9. */
  def cochranArmitage(df: DataFrame, dose: Column, successCond: Column): DataFrame = {
    val lv = df.groupBy(dose.cast("long").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(when(successCond, 1L).otherwise(0L)).as("r"))
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val g = lv.agg(sum("n").as("nn"), sum("r").as("rr"),
      sum(c19(col("w")) * col("n")).as("swn"),
      sum(c19(col("w")) * col("w") * col("n")).as("swwn"),
      sum(c19(col("w")) * col("r")).as("swr"))
    val nd = col("nn").cast("double"); val rd = col("rr").cast("double")
    val swn = col("swn").cast("double"); val swwn = col("swwn").cast("double")
    val swr = col("swr").cast("double")
    val t = swr - rd * swn / nd
    val varT = (rd / nd) * (lit(1d) - rd / nd) * (swwn - swn * swn / nd)
    g.select(col("nn").cast("long").as("n_total"), col("rr").cast("long").as("r_total"),
      when(varT > 0d, (t / sqrt(varT)).cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Bradley–Terry pairwise-preference strengths (Bradley & Terry 1952) via
    * the MM algorithm (Hunter 2004) with FIXED unrolled iterations — the
    * batch model behind preference/RLHF data: given "i beat j" contests,
    * recover latent strengths p with P(i beats j) = p_i/(p_i+p_j).
    *
    * Contests collapse once to the item×item win matrix (the only
    * row-sized shuffle); everything after runs on K² rows. Each MM step
    * p_i ← W_i / Σ_j n_ij/(p_i+p_j) quantizes the per-opponent term to
    * DECIMAL(28,12) before the order-independent sum and the new p to
    * DECIMAL(18,9) — so a fixed iteration count is bit-reproducible in
    * the unrolled-CTE oracle. Deterministic from p⁰=1; never-winning
    * items go to strength 0 (correct MLE limit). */
  def bradleyTerry(contests: DataFrame, winCol: String, loseCol: String,
                   iters: Int = 2): DataFrame = {
    val w = contests.groupBy(col(winCol).as("i"), col(loseCol).as("j"))
      .agg(count(lit(1)).as("w")).localCheckpoint()
    val nij = w.select(col("i"), col("j"), col("w"))
      .unionAll(w.select(col("j").as("i"), col("i").as("j"), col("w")))
      .groupBy("i", "j").agg(sum("w").as("nij")).localCheckpoint()
    val wins = nij.select(col("i")).distinct()
      .join(w.groupBy("i").agg(sum("w").as("wi")), Seq("i"), "left")
      .select(col("i"), coalesce(col("wi"), lit(0L)).as("wi"))
      .localCheckpoint()
    var p = wins.select(col("i"), lit(BigDecimal(1)).cast("decimal(18,9)").as("p"))
    for (_ <- 1 to iters) {
      val denom = nij
        .join(p.select(col("i"), col("p").as("pi")), Seq("i"))
        .join(p.select(col("i").as("j"), col("p").as("pj")), Seq("j"))
        .select(col("i"),
          (col("nij").cast("double") / (col("pi") + col("pj")).cast("double"))
            .cast("decimal(28,12)").as("term"))
        .groupBy("i").agg(sum("term").as("den"))
      p = wins.join(denom, Seq("i"))
        .select(col("i"),
          when(col("den") > 0,
            (col("wi").cast("double") / col("den").cast("double"))
              .cast("decimal(18,9)"))
            .otherwise(lit(BigDecimal(0)).cast("decimal(18,9)")).as("p"))
        .localCheckpoint()
    }
    wins.join(nij.groupBy("i").agg(sum("nij").as("games")), Seq("i"))
      .join(p, Seq("i"))
      .select(col("i").as("item"), col("wi").cast("long").as("wins"),
        col("games").cast("long").as("games"),
        col("p").cast("double").as("strength"))
      .orderBy("item")
  }

  /** Simpson's-paradox detector over group pairs (Simpson 1951; the
    * aggregation-reversal audit): for every pair of groups (a, b), compare
    * the SIGN of the aggregated mean difference against the per-stratum
    * signs — a pair where every decided stratum disagrees with the
    * aggregate is a full reversal, i.e. the aggregated comparison would
    * mislead (the classic admission-bias / batch-mix confounder a data
    * pipeline should flag before anyone reads the aggregate table).
    *
    * All comparisons are EXACT: mean_a vs mean_b compares by
    * cross-multiplication sign(s_a·n_b − s_b·n_a) on decimal sums —
    * no division ever happens, so no rounding can flip a sign in one
    * engine and not the other. Sizes: groups² × strata pairs over a
    * twice-aggregated dim-sized table. */
  def simpsonFlips(df: DataFrame, groupCol: String, strataCol: String,
                   value: Column): DataFrame = {
    val cells = df.groupBy(col(groupCol).as("g"), col(strataCol).as("st"))
      .agg(sum(value.cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n")).localCheckpoint()
    val totals = cells.groupBy("g")
      .agg(sum("s").as("sg"), sum("n").as("ng"))
    def cross(l: Column, r: Column, ln: Column, rn: Column): Column =
      signum((l.cast("decimal(28,2)") * rn -
        r.cast("decimal(28,2)") * ln).cast("decimal(38,2)")).cast("int")
    val aggPairs = totals.select(col("g").as("ga"), col("sg").as("sa"), col("ng").as("na"))
      .crossJoin(totals.select(col("g").as("gb"), col("sg").as("sb"), col("ng").as("nb")))
      .filter(col("ga") < col("gb"))
      .select(col("ga"), col("gb"), cross(col("sa"), col("sb"), col("na"), col("nb")).as("agg_sign"))
    val stratumPairs = cells.select(col("g").as("ga"), col("st"), col("s").as("s_a"), col("n").as("n_a"))
      .join(cells.select(col("g").as("gb"), col("st"), col("s").as("s_b"), col("n").as("n_b")), Seq("st"))
      .filter(col("ga") < col("gb"))
      .select(col("ga"), col("gb"),
        cross(col("s_a"), col("s_b"), col("n_a"), col("n_b")).as("st_sign"))
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("n_strata"),
        sum((col("st_sign") =!= 0).cast("long")).as("n_decided"),
        sum((col("st_sign") =!= 0).cast("long") * col("st_sign")).as("sign_sum"))
    aggPairs.join(stratumPairs, Seq("ga", "gb"))
      .select(col("ga"), col("gb"), col("agg_sign"),
        col("n_strata").cast("long").as("n_strata"),
        col("n_decided").cast("long").as("n_decided"),
        (col("agg_sign") =!= 0 && col("n_decided") > 0 &&
          col("sign_sum") === -col("agg_sign") * col("n_decided"))
          .cast("int").as("full_reversal"))
      .orderBy("ga", "gb")
  }

  /** Kruskal–Wallis H test (rank-based one-way ANOVA) across k groups —
    * [[mannWhitney]]'s k-group generalization and [[anovaF]]'s robust
    * twin: "did ANY of these cohorts' value distributions shift", without
    * assuming normality (order-value distributions are heavy-tailed, so
    * the rank test is the one that actually holds its size).
    *
    * Same distinct-value collapse as [[mannWhitney]]: rows fold to
    * (value, group) count cells in one hash aggregate; the rank window
    * runs over the VALUE MARGIN (distinct-value-sized, not row-sized).
    * Doubled average ranks 2r̄(v) = 2·cumBefore + cnt + 1 stay integers;
    * per-group doubled rank sums Σ n_gv·2r̄ are DECIMAL(38,0)-exact, so
    * H's input sums are bit-identical in any engine and at any
    * parallelism. H, the tie correction C = 1 − Σ(t³−t)/(N³−N), and
    * H/C are one mirrored double chain, quantized scale 9. Returns one
    * row per group (n, rank_sum) with the global h/h_corrected
    * replicated, [[Graph.modularity]]-style. */
  def kruskalWallis(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val cells = df.groupBy(value.as("v"), col(groupCol).as("grp"))
      .agg(count(lit(1)).as("cnt"))
    val margin = cells.groupBy("v").agg(sum("cnt").as("cntv"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = margin
      .withColumn("cumBefore", sum("cntv").over(w) - col("cntv"))
      .withColumn("dr", lit(2) * col("cumBefore") + col("cntv") + 1)
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val perGroup = cells.join(ranked.select("v", "dr"), "v")
      .groupBy("grp")
      .agg(sum("cnt").as("n"), sum(c19(col("cnt")) * col("dr")).as("dr2"))
      .localCheckpoint() // H needs the group sums twice (terms + totals)
    val ties = margin.agg(
      sum((c19(col("cntv")) * col("cntv") * col("cntv"))
        .cast("decimal(38,0)") - col("cntv")).as("tie3"),
      sum("cntv").as("nTot"))
    // per-group H term R_g²/n_g = (dr2/2)²/n_g — double, quantized before
    // the k-term sum so group order can't wiggle the total
    val terms = perGroup.select(col("n"),
      ((col("dr2").cast("double") / 2d) * (col("dr2").cast("double") / 2d) /
        col("n").cast("double")).cast("decimal(38,6)").as("term"))
      .agg(count(lit(1)).as("k"), sum("term").cast("double").as("qsum"))
    val nD = col("nTot").cast("double")
    val h = lit(12d) / (nD * (nD + 1d)) * col("qsum") - lit(3d) * (nD + 1d)
    val cTie = lit(1d) - col("tie3").cast("double") / (nD * nD * nD - nD)
    val global = terms.crossJoin(ties).select(col("k"),
      h.cast("decimal(18,9)").cast("double").as("h"),
      when(cTie > 0d, (h / cTie).cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("h_corrected"))
    perGroup.crossJoin(broadcast(global))
      .select(col("grp"), col("n").cast("long").as("n"),
        (col("dr2").cast("double") / 2d).as("rank_sum"),
        col("k").cast("long").as("k"), col("h"), col("h_corrected"))
      .orderBy("grp")
  }

  /** Jarque–Bera normality test per group, from exact integer power sums:
    * the sanity gate before any z-score/σ-based rule ([[anovaF]],
    * anomaly thresholds) — JB = n/6·(S² + (K−3)²/4) blows up exactly when
    * skewness S or excess kurtosis K−3 says "these σ rules will lie".
    *
    * One hash aggregate computes n, Σx, Σx², Σx³, Σx⁴ as DECIMAL(38,0)
    * over integer-valued inputs (cast `value` to long yourself) — exact at
    * any parallelism. Central moments m2..m4 expand from the raw sums in
    * ONE mirrored double chain (m3 = s3/n − 3μs2/n + 2μ³, m4 = s4/n −
    * 4μs3/n + 6μ²s2/n − 3μ⁴); S = m3/(m2√m2), K = m4/m2². Outputs
    * quantized scale 9. Degenerate variance → NULLs, not NaNs. */
  def jarqueBera(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val x = value.cast("decimal(19,0)")
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(x).as("s1"),
        sum((x * x).cast("decimal(38,0)")).as("s2"),
        sum((x * x * x).cast("decimal(38,0)")).as("s3"),
        sum((x * x * x * x).cast("decimal(38,0)")).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mu * mu
    val m3 = col("s3").cast("double") / nD -
      lit(3d) * mu * (col("s2").cast("double") / nD) + lit(2d) * mu * mu * mu
    val m4 = col("s4").cast("double") / nD -
      lit(4d) * mu * (col("s3").cast("double") / nD) +
      lit(6d) * mu * mu * (col("s2").cast("double") / nD) -
      lit(3d) * mu * mu * mu * mu
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2)
    g.select(col("grp"), col("n").cast("long").as("n"),
        mu.cast("decimal(18,6)").cast("double").as("mean"),
        when(m2 > 0d, skew.cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("skewness"),
        when(m2 > 0d, kurt.cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("kurtosis"),
        when(m2 > 0d,
          (nD / 6d * (skew * skew + (kurt - 3d) * (kurt - 3d) / 4d))
            .cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("jb_stat"))
      .orderBy("grp")
  }

  /** Bartlett's test for variance homogeneity across k groups — the
    * power-against-[[leveneTest]] tradeoff: Bartlett is the sharper test
    * when the data are near-normal (and the χ²_{k−1} reference is exact),
    * Levene the robust one. Running both brackets the answer.
    *
    * One hash aggregate to per-group exact (n, Σx, Σx²); each group's
    * (n_i−1)·ln s_i² is computed in a fixed double chain and QUANTIZED to
    * DECIMAL(28,9) before the k-term sum (ln is the only transcendental —
    * quantizing before the order-dependent sum keeps the total
    * engine-exact); pooled SS and Σ1/(n_i−1) get the same treatment.
    * Groups need n_i ≥ 2 (enforced by filter); T and the Box correction
    * denominator are one mirrored double chain, scale 9. */
  def bartlett(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(value).as("s1"),
        sum(value * value).as("s2"))
      .filter(col("n") >= 2)
    val nD = col("n").cast("double")
    val ss = col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nD
    val terms = g.select(col("n"),
        // scale 0: SS of integer-unit values runs ~1e16 at cent units —
        // a finer scale would ask the double for >15 significant digits
        // and the two engines' roundings diverge (the twap rule)
        ss.cast("decimal(38,0)").as("ssq"),
        ((nD - 1d) * log(ss / (nD - 1d))).cast("decimal(28,9)").as("lnterm"),
        (lit(1d) / (nD - 1d)).cast("decimal(18,12)").as("invterm"))
      .agg(count(lit(1)).as("k"), sum("n").as("nTot"),
        sum("ssq").cast("double").as("pooledSS"),
        sum("lnterm").cast("double").as("sumLn"),
        sum("invterm").cast("double").as("sumInv"))
    val k = col("k").cast("double")
    val nmk = (col("nTot") - col("k")).cast("double")
    val sp2 = col("pooledSS") / nmk
    val tRaw = nmk * log(sp2) - col("sumLn")
    val corr = lit(1d) + (col("sumInv") - lit(1d) / nmk) / (lit(3d) * (k - 1d))
    terms.select(col("k").cast("long").as("k"),
      col("nTot").cast("long").as("n"),
      sp2.cast("decimal(28,6)").cast("double").as("pooled_var"),
      when(col("k") >= 2 && col("pooledSS") > 0d,
        (tRaw / corr).cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("t_stat"))
  }

  /** Ljung–Box portmanteau test on a series' autocorrelations — the "is
    * there ANY serial structure left" gate run on residuals after a
    * forecast fit (white-noise residuals ⇒ Q ~ χ²_m; a big Q says the
    * model left signal on the table). Complements [[Analytics.acf]]
    * (which shows WHERE the structure is) with one decision number.
    *
    * Q_m = n(n+2)·Σ_{h≤m} ρ̂_h²/(n−h), reported cumulatively per lag.
    * ρ̂ comes from [[Analytics.acf]] (already scale-9-quantized, so ρ²
    * is an exact double product); each term ρ²/(n−h) is quantized
    * DECIMAL(28,12) before the cumulative sum (m-row window over the lag
    * margin). n is the series length (one count), NOT the pair count. */
  def ljungBox(series: DataFrame, tCol: String, valueCol: String,
               maxLag: Int): DataFrame = {
    val rho = Analytics.acf(series, tCol, valueCol, maxLag)
    val nRow = series.agg(count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val term = (col("acf") * col("acf") / (nD - col("lag").cast("double")))
      .cast("decimal(28,12)")
    val w = Window.orderBy("lag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rho.crossJoin(broadcast(nRow))
      .withColumn("term", term)
      .withColumn("q_stat",
        (nD * (nD + 2d) * sum("term").over(w).cast("double"))
          .cast("decimal(18,9)").cast("double"))
      .select(col("lag"), col("n").cast("long").as("n"), col("acf"),
        col("q_stat"))
      .orderBy("lag")
  }

  /** 2×2 contingency summary: exact cell counts + Haldane–Anscombe odds
    * ratio with a Wald 95% CI on the log scale — the effect-size readout
    * for "does exposure X associate with outcome Y" that [[abTest]]'s
    * z-score doesn't give (a z says IS there an effect; the OR says HOW
    * BIG, and stays defined when a cell is 0 thanks to the +½).
    *
    * One hash aggregate produces the four exact cells; everything after
    * is a fixed 1-row double chain (ln, sqrt, exp — mirrored verbatim in
    * the oracle), outputs quantized scale 6/9. */
  def contingency2x2(df: DataFrame, exposed: Column, outcome: Column): DataFrame = {
    val cells = df.agg(
      sum(when(exposed && outcome, 1L).otherwise(0L)).as("n11"),
      sum(when(exposed && !outcome, 1L).otherwise(0L)).as("n10"),
      sum(when(!exposed && outcome, 1L).otherwise(0L)).as("n01"),
      sum(when(!exposed && !outcome, 1L).otherwise(0L)).as("n00"))
    val h = (c: Column) => c.cast("double") + 0.5d
    val orr = h(col("n11")) * h(col("n00")) / (h(col("n10")) * h(col("n01")))
    val se = sqrt(lit(1d) / h(col("n11")) + lit(1d) / h(col("n10")) +
      lit(1d) / h(col("n01")) + lit(1d) / h(col("n00")))
    cells.select(
      col("n11").cast("long").as("n11"), col("n10").cast("long").as("n10"),
      col("n01").cast("long").as("n01"), col("n00").cast("long").as("n00"),
      orr.cast("decimal(18,6)").cast("double").as("odds_ratio"),
      log(orr).cast("decimal(18,9)").cast("double").as("log_or"),
      exp(log(orr) - lit(1.959964d) * se)
        .cast("decimal(18,6)").cast("double").as("ci_lo"),
      exp(log(orr) + lit(1.959964d) * se)
        .cast("decimal(18,6)").cast("double").as("ci_hi"))
  }

  /** 1-Wasserstein (earth-mover) distance between two samples — the drift
    * metric that reports HOW FAR the distribution moved in VALUE UNITS
    * (dollars, tokens), where [[ksTest]] reports the worst single gap and
    * [[hellingerDrift]] a unitless overlap: W₁ = ∫|F_a − F_b| dv. The
    * one that answers "how many dollars did the typical order shift".
    *
    * EXACT BY CONSTRUCTION: rows collapse to the distinct-value margin
    * (one hash aggregate); on the margin, |F_a(v) − F_b(v)|·Δv =
    * |cuma·nb − cumb·na|·Δv/(na·nb) keeps the numerator an exact
    * DECIMAL product (integer cumulative counts × exact decimal value
    * gap), sums it exactly, and performs ONE double division at the end.
    * No float CDF is ever summed. The margin window is single-partition
    * over distinct values (grouped-AUC note applies). */
  def wasserstein1(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val cells = df.groupBy(value.cast("decimal(18,2)").as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("na"),
           sum(when(inA, 0L).otherwise(1L)).as("nb"))
      .localCheckpoint() // totals + the stepped scan
    val totals = cells.agg(sum("na").as("naTot"), sum("nb").as("nbTot"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lw = Window.orderBy("v")
    val stepped = cells
      .withColumn("cuma", sum("na").over(w))
      .withColumn("cumb", sum("nb").over(w))
      .withColumn("gap", lead("v", 1).over(lw) - col("v"))
      .filter(col("gap").isNotNull)
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    // |cuma·nbTot − cumb·naTot| ≤ N² — re-typed DECIMAL(20,0) (exact for
    // N ≤ 10¹⁰ rows; widen both engines together past that) so the ×gap
    // product stays inside precision 38 in BOTH engines; the whole
    // integral is then one exact decimal sum
    val area = stepped.crossJoin(broadcast(totals))
      .agg(sum(abs((c19(col("cuma")) * col("nbTot")).cast("decimal(38,0)") -
          (c19(col("cumb")) * col("naTot")).cast("decimal(38,0)"))
          .cast("decimal(20,0)") * col("gap")).as("num"))
    area.crossJoin(totals)
      .select(col("naTot").cast("long").as("na"),
        col("nbTot").cast("long").as("nb"),
        (col("num").cast("double") /
          (col("naTot").cast("double") * col("nbTot").cast("double")))
          .cast("decimal(18,6)").cast("double").as("w1"))
  }

  /** Grubbs' extreme-outlier statistic per group: G = max|x − x̄|/s —
    * "is the single most extreme point in this cohort too extreme to be
    * chance" (G ≳ 3–4 at typical n ⇒ investigate that point). The
    * per-group twin of the global z-score anomaly scan, reduced to the
    * decision number an alerting rule wants.
    *
    * One hash aggregate to exact (n, Σx, Σx², min, max); mean/sd/G are
    * one mirrored double chain (sample sd, n−1); the extreme value
    * reported is the min or max, whichever deviates more (ties → min,
    * deterministic). Outputs quantized scale 6/9. */
  def grubbs(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val g = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum(value).as("s1"),
        sum(value * value).as("s2"),
        min(value).as("xmin"), max(value).as("xmax"))
      .filter(col("n") >= 3)
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val sd = sqrt((col("s2").cast("double") - col("s1").cast("double") *
      col("s1").cast("double") / nD) / (nD - 1d))
    val devLo = mu - col("xmin").cast("double")
    val devHi = col("xmax").cast("double") - mu
    g.select(col("grp"), col("n").cast("long").as("n"),
        mu.cast("decimal(18,6)").cast("double").as("mean"),
        sd.cast("decimal(18,6)").cast("double").as("sd"),
        when(devLo >= devHi, col("xmin")).otherwise(col("xmax"))
          .cast("double").as("extreme"),
        when(sd > 0d, (greatest(devLo, devHi) / sd)
          .cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("g_stat"))
      .orderBy("grp")
  }

  /** Standardized effect size between two cohorts: Cohen's d from the
    * pooled sample sd, plus Hedges' g (the small-sample bias correction
    * 1 − 3/(4N−9)) — the number that belongs NEXT TO every [[abTest]] /
    * [[mannWhitney]] p-value, because with 10⁶ rows everything is
    * "significant" and only the effect SIZE says whether anyone should
    * care (|d| ≈ 0.2 small / 0.5 medium / 0.8 large).
    *
    * One aggregate to both cohorts' exact (n, Σx, Σx²) in a single pass;
    * pooled variance and both statistics are one mirrored double chain,
    * quantized scale 6/9. */
  def effectSize(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val agg = df.agg(
      sum(when(inA, 1L).otherwise(0L)).as("na"),
      sum(when(inA, value).otherwise(lit(0))).as("sa1"),
      sum(when(inA, value * value).otherwise(lit(0))).as("sa2"),
      sum(when(!inA, 1L).otherwise(0L)).as("nb"),
      sum(when(!inA, value).otherwise(lit(0))).as("sb1"),
      sum(when(!inA, value * value).otherwise(lit(0))).as("sb2"))
    val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
    val muA = col("sa1").cast("double") / naD
    val muB = col("sb1").cast("double") / nbD
    val ssA = col("sa2").cast("double") - col("sa1").cast("double") * muA
    val ssB = col("sb2").cast("double") - col("sb1").cast("double") * muB
    val sp = sqrt((ssA + ssB) / (naD + nbD - 2d))
    val d = (muA - muB) / sp
    agg.select(col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
      muA.cast("decimal(18,6)").cast("double").as("mean_a"),
      muB.cast("decimal(18,6)").cast("double").as("mean_b"),
      when(sp > 0d, d.cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("cohen_d"),
      when(sp > 0d, (d * (lit(1d) - lit(3d) / (lit(4d) * (naD + nbD) - 9d)))
        .cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("hedges_g"))
  }

  /** Forecast-accuracy scorecard for the seasonal-naive forecaster
    * f_t = x_{t−season}, per series: MAE, RMSE, SMAPE, and MASE — the
    * standard backtest readout that turns "we have a forecast baseline"
    * into "here is how wrong it is, scale-free". MASE (MAE over the
    * in-sample lag-1 naive MAE, Hyndman & Koehler 2006) is the one to
    * rank across series of different volumes; MASE < 1 beats naive.
    *
    * The series must be integer-valued at a contiguous integer time grid
    * (counts per period — the [[Analytics.acf]] contract). Then every
    * error e_t = x_t − x_{t−s} is an exact integer: Σ|e| and Σe² are
    * exact decimal sums, MAE/RMSE/MASE are single double divisions of
    * exact integers. Only SMAPE (2|e|/(|x|+|f|)) has per-row division —
    * each term is quantized DECIMAL(18,12) before its sum. One window
    * per series (series-count parallelism over period-grain rows). */
  def forecastAccuracy(series: DataFrame, groupCol: String, tCol: String,
                       valueCol: String, season: Int): DataFrame = {
    require(season >= 1, "season >= 1")
    val w = Window.partitionBy(groupCol).orderBy(tCol)
    val lagged = series
      .select(col(groupCol).as("grp"), col(tCol).cast("long").as("t"),
        col(valueCol).cast("long").as("x"))
      .withColumn("f", lag("x", season).over(Window.partitionBy("grp").orderBy("t")))
      .withColumn("d1", abs(col("x") - lag("x", 1).over(
        Window.partitionBy("grp").orderBy("t"))))
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val g = lagged.groupBy("grp").agg(
      sum(when(col("f").isNotNull, 1L)).as("nEval"),
      sum(when(col("f").isNotNull, c19(abs(col("x") - col("f"))))).as("sae"),
      sum(when(col("f").isNotNull,
        (c19(col("x") - col("f")) * (col("x") - col("f"))).cast("decimal(38,0)"))).as("sse"),
      sum(when(col("f").isNotNull && (abs(col("x")) + abs(col("f"))) > 0,
        (lit(2d) * abs(col("x") - col("f")).cast("double") /
          (abs(col("x")) + abs(col("f"))).cast("double")).cast("decimal(18,12)"))).as("ssm"),
      sum(when(col("d1").isNotNull, 1L)).as("n1"),
      sum(when(col("d1").isNotNull, c19(col("d1")))).as("sd1"))
    val nE = col("nEval").cast("double")
    g.filter(col("nEval") > 0)
      .select(col("grp"), col("nEval").cast("long").as("n_eval"),
        (col("sae").cast("double") / nE)
          .cast("decimal(18,6)").cast("double").as("mae"),
        sqrt(col("sse").cast("double") / nE)
          .cast("decimal(18,6)").cast("double").as("rmse"),
        (col("ssm").cast("double") / nE)
          .cast("decimal(18,9)").cast("double").as("smape"),
        // MASE = (Σ|e|·n1)/(nEval·Σd1): cross-multiplied exact integers,
        // ONE division
        when(col("sd1") > 0,
          ((col("sae") * col("n1")).cast("double") /
            (col("sd1") * col("nEval")).cast("double"))
            .cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("mase"))
      .orderBy("grp")
  }

  /** Pinball (quantile) loss backtest: per series, forecast the τ-quantile
    * of the value from TRAIN rows as the empirical lower quantile, then
    * score on EVAL rows with L_τ(y,q) = τ(y−q)⁺ + (1−τ)(q−y)⁺ — THE
    * proper scoring rule for quantile forecasts (an SLA "p90 order value"
    * band is judged by exactly this, not by MAE).
    *
    * All integer: τ runs in per-mille, the train quantile is the smallest
    * value whose cumulative count reaches ⌈τ‰·W⌉ (integer
    * cross-multiplication over the train distinct-value margin — the
    * [[Analytics.weightedPercentilesByGroup]] recipe), and each loss term
    * is τ‰·(y−q) or (1000−τ‰)·(q−y) — an exact integer. ONE double
    * division (by 1000·n) at the end. `value` must be integer-valued. */
  def pinballLoss(df: DataFrame, groupCol: String, value: Column,
                  isTrain: Column, probesPm: Seq[Int]): DataFrame = {
    require(probesPm.nonEmpty && probesPm.forall(p => p >= 1 && p <= 999),
      "per-mille probes in [1,999]")
    val base = df.select(col(groupCol).as("grp"), value.cast("long").as("y"),
      isTrain.as("trn")).localCheckpoint() // margin + eval scans
    val margin = base.filter(col("trn"))
      .groupBy("grp", "y").agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy("grp").orderBy("y")
    val tot = Window.partitionBy("grp")
    val q = margin
      .withColumn("cumw", sum("nv").over(w))
      .withColumn("tw", sum("nv").over(tot))
      .withColumn("pm", explode(array(probesPm.distinct.sorted.map(p => lit(p)): _*)))
      .filter(col("cumw") * 1000 >= col("pm") * col("tw"))
      .groupBy("grp", "pm").agg(min("y").as("q"))
    val evalRows = base.filter(!col("trn"))
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    evalRows.join(q, Seq("grp"))
      .groupBy("grp", "pm")
      .agg(max("q").as("q_forecast"), count(lit(1)).as("nEval"),
        sum(when(col("y") >= col("q"),
            c19(col("pm")) * (col("y") - col("q")))
          .otherwise(c19(lit(1000) - col("pm")) * (col("q") - col("y"))))
          .as("lossSum"))
      .select(col("grp"), col("pm"), col("q_forecast").cast("long").as("q_forecast"),
        col("nEval").cast("long").as("n_eval"),
        (col("lossSum").cast("double") /
          (col("nEval").cast("double") * 1000d))
          .cast("decimal(18,6)").cast("double").as("pinball"))
      .orderBy("grp", "pm")
  }

  /** Friedman test (rank-based repeated-measures ANOVA): k treatments
    * ranked WITHIN each of b blocks — "does any treatment consistently
    * rank higher across blocks", the paired complement of
    * [[kruskalWallis]] (which pools all rows; Friedman removes
    * between-block level differences first, e.g. seasonal volume when
    * blocks are months).
    *
    * FULLY EXACT even with ties: doubled within-block average ranks are
    * integers, and the tie-general statistic χ² = (k−1)·[Σ DR_j² −
    * b²k(k+1)²] / (Σ dr² − b·k(k+1)²) (the ×4-cleared form) is a ratio
    * of exact integers — ONE division. Blocks missing a treatment are
    * dropped whole (the test needs complete blocks). Ranking windows run
    * per block over k-row partitions. */
  def friedman(df: DataFrame, block: Column, treatmentCol: String,
               value: Column): DataFrame = {
    val cells = df.groupBy(block.as("blk"), col(treatmentCol).as("trt"))
      .agg(sum(value).as("v")).localCheckpoint() // complete-block filter + ranks
    val k = cells.agg(countDistinct("trt").as("k"))
    val complete = cells.groupBy("blk").agg(count(lit(1)).as("ntrt"))
      .crossJoin(broadcast(k)).filter(col("ntrt") === col("k"))
      .select("blk")
    val inBlocks = cells.join(complete, "blk")
    val margin = inBlocks.groupBy("blk", "v").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("blk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = margin
      .withColumn("dr", lit(2) * (sum("cnt").over(w) - col("cnt")) + col("cnt") + 1)
    val drCells = inBlocks.join(ranked.select("blk", "v", "dr"), Seq("blk", "v"))
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val perTrt = drCells.groupBy("trt")
      .agg(count(lit(1)).as("b"), sum(c19(col("dr"))).as("drj"))
      .localCheckpoint() // output rows + the Σ DR² total
    val sq = drCells.agg(
      sum((c19(col("dr")) * col("dr")).cast("decimal(38,0)")).as("sumDr2"),
      count(lit(1)).as("nCells"))
    val tots = perTrt.agg(count(lit(1)).as("kk"), max("b").as("bb"),
      sum((c19(col("drj")) * col("drj")).cast("decimal(38,0)")).as("sumDRj2"))
    val kD = col("kk").cast("double"); val bD = col("bb").cast("double")
    val num = (kD - 1d) * (col("sumDRj2").cast("double") -
      bD * bD * kD * (kD + 1d) * (kD + 1d))
    val den = col("sumDr2").cast("double") - bD * kD * (kD + 1d) * (kD + 1d)
    val global = tots.crossJoin(sq).select(
      col("kk").cast("long").as("k"),
      when(den > 0d, (num / den).cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("chi2_f"))
    perTrt.crossJoin(broadcast(global))
      .select(col("trt"), col("b").cast("long").as("n_blocks"),
        (col("drj").cast("double") / 2d).as("rank_sum"),
        col("k"), col("chi2_f"))
      .orderBy("trt")
  }

  /** Cochran's Q test (Cochran 1950) — the BINARY [[friedman]]: k
    * yes/no treatments observed on the same b blocks ("do our event
    * types penetrate users equally", "do k rule variants flag the same
    * documents"), the k-treatment generalization of [[mcnemar]]. Q ~
    * χ²_{k−1} under exchangeability.
    *
    * FULLY EXACT: Q = (k−1)·[k·ΣC_j² − (ΣC_j)²] / (k·ΣR_u − ΣR_u²) is a
    * ratio of exact integers — ONE division. One (block, treatment) hash
    * aggregate (the only row-sized shuffle); column/row totals are two
    * re-aggregates of it; unobserved (block, treatment) cells count 0 by
    * construction. All-0/all-k blocks cancel algebraically — no
    * filtering needed. Degenerate denominator → NULL. */
  def cochranQ(df: DataFrame, blockCol: String, treatmentCol: String,
               success: Column): DataFrame = {
    val cells = df.groupBy(col(blockCol).as("blk"), col(treatmentCol).as("trt"))
      .agg(max(when(success, 1L).otherwise(0L)).as("x"))
      .localCheckpoint() // success cells + the raw treatment listing
    val x = cells.filter(col("x") === 1)
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    // k and the treatment listing come from the RAW observed cells, not the
    // success cells: a treatment present in the data but never successful
    // (a rule variant that flags nothing) must contribute C_j = 0 — dropping
    // it shrinks k and corrupts the (k−1) and k factors of Q
    val cTot = cells.select("trt").distinct()
      .join(x.groupBy("trt").agg(count(lit(1)).as("cj1")), Seq("trt"), "left")
      .select(col("trt"), coalesce(col("cj1"), lit(0L)).as("cj"))
      .localCheckpoint()
    val rTot = x.groupBy("blk").agg(count(lit(1)).as("ru"))
    val sC = cTot.agg(count(lit(1)).as("k"),
      sum("cj").as("sc"),
      sum((c19(col("cj")) * col("cj")).cast("decimal(38,0)")).as("sc2"))
    val sR = rTot.agg(count(lit(1)).as("b"),
      sum("ru").as("sr"),
      sum((c19(col("ru")) * col("ru")).cast("decimal(38,0)")).as("sr2"))
    val kD = col("k").cast("double")
    val num = (kD - 1d) * (kD * col("sc2").cast("double") -
      col("sc").cast("double") * col("sc").cast("double"))
    val den = kD * col("sr").cast("double") - col("sr2").cast("double")
    val global = sC.crossJoin(sR).select(
      col("k").cast("long").as("k"), col("b").cast("long").as("n_blocks"),
      when(den > 0d, (num / den).cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("q_stat"))
    cTot.crossJoin(broadcast(global))
      .select(col("trt"), col("cj").cast("long").as("n_yes"),
        col("k"), col("n_blocks"), col("q_stat"))
      .orderBy("trt")
  }

  /** Page's trend test for ORDERED alternatives in blocked ranks (Page
    * 1963) — where [[friedman]] asks "any difference", Page asks "does
    * the DECLARED ordering hold" (priority tiers should earn
    * monotonically; treatment doses should respond monotonically), which
    * buys real power when the order is the hypothesis. Treatments are
    * weighted by their sorted-order rank. L big ⇒ the order holds.
    *
    * Doubled within-block average ranks keep 2L = Σ w_j·DR_j an exact
    * integer (decimal sum); E[L] = b·k(k+1)²/4 and the no-tie normal
    * variance b·k²(k+1)²(k−1)/144 are one mirrored chain (ties make z
    * slightly conservative — documented). Complete blocks only, like
    * [[friedman]]. */
  def pageTrend(df: DataFrame, block: Column, treatmentCol: String,
                value: Column): DataFrame = {
    val cells = df.groupBy(block.as("blk"), col(treatmentCol).as("trt"))
      .agg(sum(value).as("v")).localCheckpoint()
    val k = cells.agg(countDistinct("trt").as("k"))
    val complete = cells.groupBy("blk").agg(count(lit(1)).as("ntrt"))
      .crossJoin(broadcast(k)).filter(col("ntrt") === col("k"))
      .select("blk")
    val inBlocks = cells.join(complete, "blk")
    val margin = inBlocks.groupBy("blk", "v").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("blk").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = margin
      .withColumn("dr", lit(2) * (sum("cnt").over(w) - col("cnt")) + col("cnt") + 1)
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val weights = cells.select("trt").distinct()
      .withColumn("wt", row_number().over(Window.orderBy("trt")))
    val perTrt = inBlocks.join(ranked.select("blk", "v", "dr"), Seq("blk", "v"))
      .groupBy("trt").agg(count(lit(1)).as("b"), sum(c19(col("dr"))).as("drj"))
      .join(broadcast(weights), "trt")
    val agg = perTrt.agg(count(lit(1)).as("k"), max("b").as("b"),
      sum((c19(col("wt")) * col("drj")).cast("decimal(38,0)")).as("twoL"))
    val kD = col("k").cast("double"); val bD = col("b").cast("double")
    val lStat = col("twoL").cast("double") / 2d
    val eL = bD * kD * (kD + 1d) * (kD + 1d) / 4d
    val vL = bD * kD * kD * (kD + 1d) * (kD + 1d) * (kD - 1d) / 144d
    agg.select(col("k").cast("long").as("k"), col("b").cast("long").as("n_blocks"),
      lStat.as("l_stat"),
      eL.cast("decimal(18,6)").cast("double").as("expected_l"),
      when(vL > 0d, ((lStat - eL) / sqrt(vL)).cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** First-order partial correlation r_xy·z — "do x and y still move
    * together once z is held fixed", the 3-variable disentangler
    * ([[Analytics]] q77's Pearson says quantity and revenue correlate;
    * this asks whether that survives controlling for discount). Computed
    * from the classic identity r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1−r_xz²)(1−r_yz²)).
    *
    * ONE aggregate pass collects all 9 exact integer power/cross sums
    * (inputs must be integer-typed); the three Pearson r's and the
    * partial are one mirrored double chain, outputs quantized scale 9.
    * Degenerate variance or |r| = 1 legs → NULL. */
  def partialCorrelation(df: DataFrame, x: Column, y: Column,
                         z: Column): DataFrame = {
    val cx = x.cast("decimal(19,0)"); val cy = y.cast("decimal(19,0)")
    val cz = z.cast("decimal(19,0)")
    val g = df.agg(count(lit(1)).as("n"),
      sum(cx).as("sx"), sum(cy).as("sy"), sum(cz).as("sz"),
      sum((cx * cx).cast("decimal(38,0)")).as("sxx"),
      sum((cy * cy).cast("decimal(38,0)")).as("syy"),
      sum((cz * cz).cast("decimal(38,0)")).as("szz"),
      sum((cx * cy).cast("decimal(38,0)")).as("sxy"),
      sum((cx * cz).cast("decimal(38,0)")).as("sxz"),
      sum((cy * cz).cast("decimal(38,0)")).as("syz"))
    val nD = col("n").cast("double")
    def d(c: String): Column = col(c).cast("double")
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String): Column =
      (nD * d(sab) - d(sa) * d(sb)) /
        sqrt((nD * d(saa) - d(sa) * d(sa)) * (nD * d(sbb) - d(sb) * d(sb)))
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    val denom = sqrt((lit(1d) - rxz * rxz) * (lit(1d) - ryz * ryz))
    g.select(col("n").cast("long").as("n"),
      rxy.cast("decimal(18,9)").cast("double").as("r_xy"),
      rxz.cast("decimal(18,9)").cast("double").as("r_xz"),
      ryz.cast("decimal(18,9)").cast("double").as("r_yz"),
      when(denom > 0d, ((rxy - rxz * ryz) / denom)
        .cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("r_xy_given_z"))
  }

  /** Mantel–Haenszel pooled odds ratio across strata — the confounder-
    * adjusted effect [[contingency2x2]] can't give: if segment mix
    * differs between exposed/unexposed, the crude OR mixes the exposure
    * effect with the segment effect; MH pools the per-stratum ORs
    * weighted by n10·n01/N (Mantel & Haenszel 1959), the standard
    * epidemiology/experimentation adjustment next to [[ipwEffect]].
    *
    * One (stratum)-grain aggregate to four exact cells each; the two MH
    * sums quantize each stratum's single cross-product/N division to
    * DECIMAL(28,12) before summing; pooled OR is ONE division of the two
    * sums. Per-stratum Haldane ORs ride along for the heterogeneity
    * eyeball. */
  def mantelHaenszel(df: DataFrame, strataCol: String, exposed: Column,
                     outcome: Column): DataFrame = {
    val cells = df.groupBy(col(strataCol).as("stratum")).agg(
      sum(when(exposed && outcome, 1L).otherwise(0L)).as("n11"),
      sum(when(exposed && !outcome, 1L).otherwise(0L)).as("n10"),
      sum(when(!exposed && outcome, 1L).otherwise(0L)).as("n01"),
      sum(when(!exposed && !outcome, 1L).otherwise(0L)).as("n00"))
      .localCheckpoint() // MH sums + the per-stratum listing
    val nS = (col("n11") + col("n10") + col("n01") + col("n00")).cast("double")
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val terms = cells.select(
      ((c19(col("n11")) * col("n00")).cast("decimal(38,0)").cast("double") / nS)
        .cast("decimal(28,12)").as("rTerm"),
      ((c19(col("n10")) * col("n01")).cast("decimal(38,0)").cast("double") / nS)
        .cast("decimal(28,12)").as("sTerm"))
      .agg(sum("rTerm").as("r"), sum("sTerm").as("s"))
    val pooled = terms.select(
      when(col("s") > 0,
        (col("r").cast("double") / col("s").cast("double"))
          .cast("decimal(18,6)").cast("double"))
        .otherwise(lit(null).cast("double")).as("mh_or"))
    val h = (c: Column) => c.cast("double") + 0.5d
    cells.crossJoin(broadcast(pooled))
      .select(col("stratum"),
        col("n11").cast("long").as("n11"), col("n10").cast("long").as("n10"),
        col("n01").cast("long").as("n01"), col("n00").cast("long").as("n00"),
        ((h(col("n11")) * h(col("n00"))) / (h(col("n10")) * h(col("n01"))))
          .cast("decimal(18,6)").cast("double").as("stratum_or"),
        col("mh_or"))
      .orderBy("stratum")
  }

  /** Dunn's post-hoc test after [[kruskalWallis]] — WHICH groups differ
    * in rank, with [[benjaminiHochberg]] FDR control over the k(k−1)/2
    * simultaneous pairs (the rank-world twin of [[tukeyPairs]]): z_ij =
    * (R̄_i − R̄_j) / √[(N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/n_i + 1/n_j)].
    *
    * Reuses the doubled-rank margin recipe (ranks never touch raw rows);
    * mean doubled ranks divide once per group; z is one mirrored chain
    * quantized scale 9; the p-score is the Chernoff bound exp(−z²/2)
    * (monotone in |z|, engine-exact at scale 9 — the [[shareTestPValues]]
    * convention) feeding the BH step-up lattice. */
  def dunnTest(df: DataFrame, groupCol: String, value: Column,
               alpha: Double = 0.05): DataFrame = {
    val cells = df.groupBy(value.as("v"), col(groupCol).as("grp"))
      .agg(count(lit(1)).as("cnt"))
    val margin = cells.groupBy("v").agg(sum("cnt").as("cntv"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = margin
      .withColumn("cumBefore", sum("cntv").over(w) - col("cntv"))
      .withColumn("dr", lit(2) * col("cumBefore") + col("cntv") + 1)
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val perGroup = cells.join(ranked.select("v", "dr"), "v")
      .groupBy("grp")
      .agg(count(lit(1)).as("nRows"), sum("cnt").as("n"),
        sum(c19(col("cnt")) * col("dr")).as("dr2"))
      .localCheckpoint() // both pair sides
    val ties = margin.agg(
      sum((c19(col("cntv")) * col("cntv") * col("cntv"))
        .cast("decimal(38,0)") - col("cntv")).as("tie3"),
      sum("cntv").as("nTot"))
    val a = perGroup.select(col("grp").as("ga"), col("n").as("na"), col("dr2").as("da"))
    val b = perGroup.select(col("grp").as("gb"), col("n").as("nb"), col("dr2").as("db"))
    val nD = col("nTot").cast("double")
    val varBase = nD * (nD + 1d) / 12d -
      col("tie3").cast("double") / (lit(12d) * (nD - 1d))
    val meanA = col("da").cast("double") / (lit(2d) * col("na").cast("double"))
    val meanB = col("db").cast("double") / (lit(2d) * col("nb").cast("double"))
    val se = sqrt(varBase * (lit(1d) / col("na").cast("double") +
      lit(1d) / col("nb").cast("double")))
    val z = ((meanA - meanB) / se).cast("decimal(18,9)").cast("double")
    val pairs = a.crossJoin(b).filter(col("ga") < col("gb"))
      .crossJoin(broadcast(ties))
      .select(concat(col("ga"), lit("|"), col("gb")).as("pair"),
        col("ga"), col("gb"), z.as("z"),
        exp(z * z * lit(-0.5d)).cast("decimal(18,9)").as("p"))
    benjaminiHochberg(pairs, "pair", "p", alpha)
      .join(pairs.select("pair", "ga", "gb", "z"), "pair")
      .select(col("ga"), col("gb"), col("z"),
        col("p").cast("double").as("p"), col("q").cast("double").as("q"),
        col("rejected"))
      .orderBy("ga", "gb")
  }

  /** Two-sample Cramér–von Mises statistic — [[ksTest]]'s integrating
    * sibling: KS reports the WORST single CDF gap, CvM the SUM of squared
    * gaps over every pooled observation, so a distribution that differs
    * a little EVERYWHERE (which KS under-weights) still scores. T =
    * (n₁n₂/N²)·Σ_z (F_a(z) − F_b(z))², summed over pooled points with
    * multiplicity.
    *
    * EXACT BY CONSTRUCTION: on the distinct-value margin,
    * cntv·(cuma·n₂ − cumb·n₁)² is an exact integer (DECIMAL(38,0)); the
    * whole statistic is that sum divided ONCE by N²·n₁·n₂. No float CDF
    * is ever summed — same guarantee as [[wasserstein1]]. */
  def cramerVonMises(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val cells = df.groupBy(value.as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("na"),
           sum(when(inA, 0L).otherwise(1L)).as("nb"))
      .localCheckpoint() // totals + the cumulative scan
    val totals = cells.agg(sum("na").as("n1"), sum("nb").as("n2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val stepped = cells
      .withColumn("cuma", sum("na").over(w))
      .withColumn("cumb", sum("nb").over(w))
    val s = stepped.crossJoin(broadcast(totals))
      .select(col("n1"), col("n2"),
        (c19(col("na") + col("nb")) *
          ((c19(col("cuma")) * col("n2")).cast("decimal(38,0)") -
           (c19(col("cumb")) * col("n1")).cast("decimal(38,0)")) *
          ((c19(col("cuma")) * col("n2")).cast("decimal(38,0)") -
           (c19(col("cumb")) * col("n1")).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("term"))
      .groupBy("n1", "n2").agg(sum("term").as("s"))
    val nD = (col("n1") + col("n2")).cast("double")
    s.select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      (col("s").cast("double") /
        (nD * nD * col("n1").cast("double") * col("n2").cast("double")))
        .cast("decimal(18,9)").cast("double").as("cvm_t"))
  }

  /** Cliff's delta ordinal effect size: δ = (#(a>b) − #(a<b))/(n₁n₂) —
    * the nonparametric magnitude that belongs next to [[mannWhitney]]'s
    * p exactly as [[effectSize]] belongs next to the t-test: δ = ±1 is
    * total separation, 0 is overlap; |δ| ≳ 0.147/0.33/0.474 ≈
    * small/medium/large (Romano 2006). Robust where Cohen's d isn't
    * (no variance, no normality).
    *
    * From the distinct-value margin: #(a>b) = Σ_v na(v)·cumbBefore(v),
    * #(a<b) = Σ_v na(v)·(n₂ − cumb(v)) — exact integer products summed in
    * DECIMAL(38,0), ONE final division. */
  def cliffsDelta(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val cells = df.groupBy(value.as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("na"),
           sum(when(inA, 0L).otherwise(1L)).as("nb"))
      .localCheckpoint()
    val totals = cells.agg(sum("na").as("n1"), sum("nb").as("n2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val stepped = cells.withColumn("cumb", sum("nb").over(w))
    val agg = stepped.crossJoin(broadcast(totals))
      .agg(sum((c19(col("na")) * (col("cumb") - col("nb"))).cast("decimal(38,0)")).as("gt"),
        sum((c19(col("na")) * (col("n2") - col("cumb"))).cast("decimal(38,0)")).as("lt"))
    agg.crossJoin(totals)
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("gt").cast("long").as("n_greater"), col("lt").cast("long").as("n_less"),
        ((col("gt") - col("lt")).cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")))
          .cast("decimal(18,9)").cast("double").as("cliffs_delta"))
  }

  /** Wald–Wolfowitz runs test on a series' signs about its mean — the
    * order-sensitive randomness check the moment tests can't do: too FEW
    * runs ⇒ positive serial correlation (regimes/trends), too MANY ⇒
    * oscillation. Complements [[Analytics.acf]]/[[ljungBox]] with a
    * distribution-free yes/no on the SIGN pattern.
    *
    * Signs compare exact integer cross-products (x_t·N vs Σx — no mean
    * division); the runs count is one lag window over the period-grain
    * series; E[R] = 2n₁n₂/N + 1 and Var[R] are the standard chains over
    * exact counts, z quantized scale 9. Equal-to-mean points count as
    * above (deterministic, documented; DuckDB mirrors the >= exactly). */
  def runsTest(series: DataFrame, tCol: String, valueCol: String): DataFrame = {
    val base = series.select(col(tCol).cast("long").as("t"),
      col(valueCol).cast("long").as("x")).localCheckpoint()
    val tot = base.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    val signed = base.crossJoin(broadcast(tot))
      .select(col("t"),
        ((c19(col("x")) * col("n")).cast("decimal(38,0)") >=
          c19(col("sx")).cast("decimal(38,0)")).cast("int").as("up"))
    val w = Window.orderBy("t")
    val agg = signed
      .withColumn("chg",
        when(lag("up", 1).over(w).isNull ||
          lag("up", 1).over(w) =!= col("up"), 1L).otherwise(0L))
      .agg(sum("chg").as("runs"), sum("up").as("n1"),
        sum(lit(1L) - col("up")).as("n2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val nD = n1 + n2
    val eR = lit(2d) * n1 * n2 / nD + 1d
    val vR = lit(2d) * n1 * n2 * (lit(2d) * n1 * n2 - nD) /
      (nD * nD * (nD - 1d))
    agg.select(col("runs").cast("long").as("runs"),
      col("n1").cast("long").as("n_above"), col("n2").cast("long").as("n_below"),
      eR.cast("decimal(18,6)").cast("double").as("expected_runs"),
      when(vR > 0d, ((col("runs").cast("double") - eR) / sqrt(vR))
        .cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Two-proportion power analysis: the sample size per arm to detect a
    * relative lift `mdePct`% over each segment's observed baseline rate
    * at α = 5% (two-sided) / 80% power — the "how long must this test
    * run" planner that turns [[abTest]] from a post-hoc readout into a
    * design tool. n = (z_{α/2}·√(2p̄(1−p̄)) + z_β·√(p₀q₀+p₁q₁))²/(p₁−p₀)².
    *
    * Baseline p₀ per segment is ONE division of exact counts; the rest is
    * a fixed mirrored double chain with z literals (1.959964, 0.841621)
    * — no inverse-normal is ever computed in-engine. Degenerate baselines
    * (p₀ = 0 or 1) → NULL. `days_at_current_rate` divides n by the
    * segment's observed daily unit volume — the actual calendar answer. */
  def powerAnalysis(df: DataFrame, segmentCol: String, success: Column,
                    tsCol: String, mdePct: Int): DataFrame = {
    require(mdePct >= 1 && mdePct <= 100, "mdePct in [1,100]")
    val g = df.groupBy(col(segmentCol).as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("s"),
        countDistinct(to_date(col(tsCol))).as("days"))
    val p0 = col("s").cast("double") / col("n").cast("double")
    val p1 = p0 * (lit(1d) + lit(mdePct.toDouble) / 100d)
    val pBar = (p0 + p1) / 2d
    val num = lit(1.959964d) * sqrt(lit(2d) * pBar * (lit(1d) - pBar)) +
      lit(0.841621d) * sqrt(p0 * (lit(1d) - p0) + p1 * (lit(1d) - p1))
    val nArm = num * num / ((p1 - p0) * (p1 - p0))
    val ok = col("s") > 0 && col("s") < col("n") && p1 < 1d
    g.select(col("segment"), col("n").cast("long").as("n_observed"),
        p0.cast("decimal(18,9)").cast("double").as("baseline_rate"),
        when(ok, ceil(nArm).cast("long")).as("n_per_arm"),
        when(ok, ceil(nArm * 2d / (col("n").cast("double") / col("days").cast("double")))
          .cast("long")).as("days_at_current_rate"))
      .orderBy("segment")
  }

  /** Difference-in-differences readout (the Card–Krueger 2×2): when
    * assignment was NOT randomized but a pre-period exists, the treatment
    * effect estimate is (T̄_post − T̄_pre) − (C̄_post − C̄_pre) — each
    * group's own pre-period differences out its level, the control's
    * delta differences out the common time trend. The causal sibling of
    * [[abTest]] (randomized) and [[ipwEffect]] (reweighted).
    *
    * FULLY EXACT one-pass shape: the four cell (n, Σ) pairs ride ONE
    * conditional aggregate over one scan (the q05 trick); each mean is
    * one double division of exact decimal sums, and the DiD chain
    * (m_tp − m_t0) − (m_cp − m_c0) is mirrored literally, quantized
    * scale 9. Any cell empty → NULL effect (insufficient design). */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
                 value: Column): DataFrame = {
    val v = value.cast("decimal(18,2)")
    val aggs = (for ((t, p) <- Seq((true, true), (true, false), (false, true), (false, false)))
      yield {
        val hit = (if (t) treated else !treated) && (if (p) post else !post)
        val k = s"${if (t) "t" else "c"}${if (p) "1" else "0"}"
        Seq(count(when(hit, 1)).as(s"n_$k"), sum(when(hit, v)).as(s"s_$k"))
      }).flatten
    val g = df.agg(aggs.head, aggs.tail: _*)
    def mean(k: String) = col(s"s_$k").cast("double") / col(s"n_$k").cast("double")
    val ok = Seq("t1", "t0", "c1", "c0").map(k => col(s"n_$k") > 0).reduce(_ && _)
    g.select(
      col("n_t1").cast("long").as("n_treated_post"),
      col("n_t0").cast("long").as("n_treated_pre"),
      col("n_c1").cast("long").as("n_control_post"),
      col("n_c0").cast("long").as("n_control_pre"),
      mean("t1").cast("decimal(18,6)").cast("double").as("mean_treated_post"),
      mean("t0").cast("decimal(18,6)").cast("double").as("mean_treated_pre"),
      mean("c1").cast("decimal(18,6)").cast("double").as("mean_control_post"),
      mean("c0").cast("decimal(18,6)").cast("double").as("mean_control_pre"),
      when(ok, ((mean("t1") - mean("t0")) - (mean("c1") - mean("c0")))
        .cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("did_effect"))
  }

  /** Clustering-vs-labels agreement: purity and the Adjusted Rand Index
    * (Hubert & Arabie 1985) — the EXTERNAL clustering evaluation that
    * pairs with [[Similarity.silhouetteByLabel]]'s internal one: did the
    * clusters recover the known structure, chance-corrected (plain Rand
    * rewards trivial partitions; ARI is 0 in expectation under random
    * labeling, 1 at perfect recovery).
    *
    * FULLY EXACT: everything reduces to the k×l contingency table —
    * doubled pair counts Σn_ij(n_ij−1), Σa_i(a_i−1), Σb_j(b_j−1) are
    * exact integer sums (halving happens inside the mirrored double
    * chain), purity is Σ_c max_j n_ij over n (one division). One id-grain
    * join + one contingency aggregate; all else is k·l-sized. Degenerate
    * partitions (max index = expected index) → NULL ARI. */
  def clusteringAgreement(clusters: DataFrame, idCol: String, clusterCol: String,
                          labels: DataFrame, labelCol: String): DataFrame = {
    val cont = clusters.select(col(idCol).as("id"), col(clusterCol).as("c"))
      .join(labels.select(col(idCol).as("id"), col(labelCol).as("g")), "id")
      .groupBy("c", "g").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // contingency reused by four margins
    val c19 = (c: Column) => c.cast("decimal(19,0)")
    def comb2(c: Column) = (c19(c) * (c - 1)).cast("decimal(38,0)")
    val ai = cont.groupBy("c").agg(sum("nij").as("a"), max("nij").as("mx"))
    val bj = cont.groupBy("g").agg(sum("nij").as("b"))
    val t = cont.agg(sum(comb2(col("nij"))).as("sij2"), sum("nij").as("n"))
    val ta = ai.agg(sum(comb2(col("a"))).as("sa2"), count(lit(1)).as("kc"),
      sum("mx").as("pur"))
    val tb = bj.agg(sum(comb2(col("b"))).as("sb2"), count(lit(1)).as("kl"))
    val nD = col("n").cast("double")
    val sij = col("sij2").cast("double") / 2d
    val sa = col("sa2").cast("double") / 2d
    val sb = col("sb2").cast("double") / 2d
    val tot = nD * (nD - 1d) / 2d
    val expected = sa * sb / tot
    val maxI = (sa + sb) / 2d
    t.crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("n").cast("long").as("n"),
        col("kc").cast("long").as("n_clusters"),
        col("kl").cast("long").as("n_labels"),
        (col("pur").cast("double") / nD).cast("decimal(18,9)").cast("double").as("purity"),
        when(maxI - expected =!= 0d,
          ((sij - expected) / (maxI - expected)).cast("decimal(18,9)").cast("double"))
          .otherwise(lit(null).cast("double")).as("ari"))
  }

  /** Sign-flip randomization test (Fisher-style exact inference, no
    * normality assumption): under H0 each unit's value is symmetric
    * around 0, so flipping any subset of signs leaves the distribution of
    * Σx invariant. 64 DETERMINISTIC sign vectors come from the bits of
    * each unit's md5 key hash (the q25 portable-hash convention —
    * bit b of md5_number_upper(id)): flip_b(u) = +1 if bit b set else −1,
    * p = (1 + #{b : |Σ flip_b·x|} ≥ |Σx|) / 65. Deterministic, engine-
    * exact (integer cent sums throughout, ONE division for p), and the
    * whole test is one map-side 64× expand + a 64-key aggregate — the
    * randomization-inference answer that runs in one pass at any scale.
    * More sign vectors tighten p's resolution; 64 bounds p ≥ 1/65 ≈ .015,
    * plenty for a drift gate. */
  def signFlipTest(df: DataFrame, idCol: String, value: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val units = df.select(col(idCol).cast("string").as("id"),
        value.cast("decimal(18,2)").as("v"))
      .groupBy("id")
      .agg((sum(col("v")) * 100).cast("long").as("x")) // exact cents per unit
      .as[(String, Long)]
    val flips = units.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, x) =>
        val m = md.digest(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L; var i = 0
        while (i < 8) { h |= (m(i) & 0xffL) << (8 * i); i += 1 }
        (0 until 64).iterator.map(b =>
          (b, if (((h >>> b) & 1L) == 1L) x else -x, x))
      }
    }.toDF("b", "fx", "x")
    val perm = flips.groupBy("b").agg(abs(sum(col("fx"))).as("t"))
    val obs = flips.filter(col("b") === 0)
      .agg(abs(sum(col("x"))).as("t_obs"), count(lit(1)).as("n"))
    perm.crossJoin(broadcast(obs))
      .agg(count(when(col("t") >= col("t_obs"), 1)).as("n_extreme"),
        max(col("t_obs")).as("t_obs"), max(col("n")).as("n"))
      .select(col("n").cast("long").as("n_units"),
        (col("t_obs").cast("double") / 100d).as("observed_abs_sum"),
        col("n_extreme").cast("long").as("n_extreme"),
        ((col("n_extreme").cast("double") + 1d) / 65d)
          .cast("decimal(18,9)").cast("double").as("p_value"))
  }

  /** Two-group log-rank test (Mantel–Cox) — the SIGNIFICANCE readout the
    * [[kaplanMeier]] / [[nelsonAalen]] curves beg for: are cohort A's and
    * cohort B's survival curves the same, censoring handled properly?
    * At each event time the A-group's observed events are compared with
    * the hypergeometric expectation d·n_A/n given the pooled risk set;
    * z = (O−E)/√V and χ² = z² (1 df). The standard cohort-vs-cohort
    * retention/time-to-failure decision gate.
    *
    * Same distributed recipe as the curves: rows collapse to per-duration
    * (d, c) margins per arm, the risk pools come from ONE
    * [[globalCumSum]] exact prefix scan (4 counters ride together), and
    * each expectation/variance term quantizes to integer nano-units
    * before its exact sum — any partitioning, same statistic. The E term
    * is an exact decimal product with ONE double division; the V term's
    * integer numerator d·n₁·(n−n₁)·(n−d) rides DECIMAL(38,0) (no long
    * overflow at any n) over denominator n²·(n−1), one division.
    * All-in-one-arm data (V = 0) → NULL z/χ². */
  def logRankTest(df: DataFrame, durationCol: String, eventCol: Column,
                  groupCol: String, groupA: String): DataFrame = {
    val inA = col(groupCol) === groupA
    val perT = df
      .select(col(durationCol).cast("long").as("t"), eventCol.as("ev"),
        inA.as("ga"))
      .groupBy("t")
      .agg(count(when(col("ev"), lit(1))).as("d"),
           count(when(!col("ev"), lit(1))).as("c"),
           count(when(col("ga") && col("ev"), lit(1))).as("d1"),
           count(when(col("ga") && !col("ev"), lit(1))).as("c1"))
    val cum = globalCumSum(perT, Seq("t"), Seq("d", "c", "d1", "c1"))
    val tot = cum.agg((sum("d") + sum("c")).as("__n"),
      (sum("d1") + sum("c1")).as("__n1"))
    val risk = cum.crossJoin(broadcast(tot))
      .withColumn("nr",
        col("__n") - (col("cum_d") + col("cum_c") - col("d") - col("c")))
      .withColumn("nr1",
        col("__n1") - (col("cum_d1") + col("cum_c1") - col("d1") - col("c1")))
      .filter(col("d") > 0)
    val d19 = col("d").cast("decimal(19,0)")
    val eTerm = round((d19 * col("nr1")).cast("decimal(38,0)").cast("double")
      / col("nr").cast("double") * lit(1e9d)).cast("long")
    val vNum = (d19 * col("nr1") * (col("nr") - col("nr1")) * (col("nr") - col("d")))
      .cast("decimal(38,0)").cast("double")
    val vDen = (col("nr").cast("decimal(19,0)") * col("nr") * (col("nr") - 1))
      .cast("decimal(38,0)").cast("double")
    val vTerm = when(col("nr") > 1, round(vNum / vDen * lit(1e9d)).cast("long"))
      .otherwise(lit(0L))
    val folded = risk
      .agg(sum("d1").as("o1"), sum(eTerm).as("eN"), sum(vTerm).as("vN"),
        count(lit(1)).as("n_event_times"))
      .crossJoin(broadcast(tot))
    val zChain = (col("o1").cast("double") - col("eN").cast("double") / 1e9d) /
      sqrt(col("vN").cast("double") / 1e9d)
    folded.select(
      col("__n1").cast("long").as("n_a"),
      (col("__n") - col("__n1")).cast("long").as("n_b"),
      col("n_event_times"),
      col("o1").cast("long").as("observed_a"),
      (col("eN").cast("double") / 1e9d).cast("decimal(18,9)").cast("double")
        .as("expected_a"),
      when(col("vN") > 0, zChain.cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("z"),
      when(col("vN") > 0, (zChain * zChain).cast("decimal(18,9)").cast("double"))
        .otherwise(lit(null).cast("double")).as("chi2"))
  }

  /** Mean average precision at k (MAP@k) + mean precision@k — the
    * order-sensitive retrieval scorecard next to [[rankingMetrics]]'
    * nDCG: AP rewards putting EVERY relevant item early (the area under
    * the precision-recall hops), nDCG rewards graded position discounts.
    * AP@k = Σ_{relevant hit at rank i ≤ k} P@i, normalized by
    * min(R, k) (R = the query's total relevant count, so a query can
    * reach 1.0 whenever its relevant set is reachable inside k).
    * Queries with no relevant items are excluded from both means
    * (standard; they have no defined AP).
    *
    * One window per query (score desc, item asc — total tie order);
    * each P@i = hits/i quantizes to integer nano-units so the per-query
    * sum is exact at any partitioning; AP's normalizing division and the
    * final means are one mirrored double chain each, quantized to 9 dp. */
  def meanAveragePrecision(df: DataFrame, queryCol: String, itemCol: String,
                           scoreCol: String, relevant: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy("q").orderBy(col("s").desc, col("i"))
    val ranked = df
      .select(col(queryCol).as("q"), col(itemCol).as("i"), col(scoreCol).as("s"),
        relevant.cast("int").as("rel"))
      .withColumn("r", row_number().over(w))
      .withColumn("cr", sum("rel").over(w)) // running relevant count incl. self
    val perQ = ranked.groupBy("q").agg(
        sum("rel").as("n_rel"),
        sum(when(col("r") <= k && col("rel") === 1,
            round(col("cr").cast("double") / col("r").cast("double") * lit(1e9d))
              .cast("long"))
          .otherwise(lit(0L))).as("apN"),
        count(when(col("r") <= k && col("rel") === 1, lit(1))).as("hits"))
      .filter(col("n_rel") > 0)
      .withColumn("ap",
        (col("apN").cast("double") / 1e9d /
          least(col("n_rel"), lit(k.toLong)).cast("double"))
          .cast("decimal(18,9)"))
      .withColumn("pk",
        (col("hits").cast("double") / lit(k.toDouble)).cast("decimal(18,9)"))
    perQ.agg(count(lit(1)).as("nq"), sum("ap").as("sap"), sum("pk").as("spk"))
      .select(col("nq").cast("long").as("n_queries"),
        (col("sap").cast("double") / col("nq").cast("double"))
          .cast("decimal(18,9)").cast("double").as("map_at_k"),
        (col("spk").cast("double") / col("nq").cast("double"))
          .cast("decimal(18,9)").cast("double").as("p_at_k"))
  }

  /** Weibull failure-time fit via median-rank regression (the reliability
    * engineer's closed-form estimator — Abernethy's "New Weibull
    * Handbook" recipe): sort the uncensored durations per group, assign
    * median ranks F_i = (i − 0.3)/(n + 0.4) (Bernard's approximation),
    * and OLS-fit y = ln(−ln(1 − F)) on x = ln(t); the slope IS the shape
    * k (k < 1 infant mortality, k ≈ 1 memoryless, k > 1 wear-out) and the
    * scale is λ = exp(−intercept/k). The parametric companion of
    * [[kaplanMeier]]'s nonparametric curve — this one extrapolates.
    *
    * One window rank per group + one aggregate. Exactness: ln is libm
    * (no cross-engine bit guarantee), so x and y quantize to integer
    * NANO units first; every OLS sum and the n·Σxy − ΣxΣy folds then
    * live at decimal scale 0 (pure integers — rounding is impossible,
    * and the ≤1e32 magnitudes sit well inside decimal128 / HUGEINT), and
    * shape is ONE double division with the 1e9 scaling cancelling.
    * λ's exp chain is mirrored verbatim then quantized. Duration ties
    * take consecutive ranks but contribute identical x, so the sums are
    * tie-order invariant. n < 2 or zero x-variance (all durations equal)
    * → NULL fit. Durations ≤ 0 are excluded (not a failure time). */
  def weibullFit(df: DataFrame, groupCol: String, durationCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
        durationCol.cast("double").as("t"))
      .filter(col("t") > 0d)
    val wr = Window.partitionBy("g").orderBy("t")
    val wn = Window.partitionBy("g")
    val fq = (col("i").cast("double") - lit(0.3d)) /
      (col("n").cast("double") + lit(0.4d))
    val ranked = base
      .withColumn("i", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .select(col("g"), col("n"),
        round(log(col("t")) * lit(1e9d)).cast("long").cast("decimal(19,0)").as("x"),
        round(log(lit(-1d) * log(lit(1d) - fq)) * lit(1e9d))
          .cast("long").cast("decimal(19,0)").as("y"))
    val agg = ranked.groupBy("g").agg(
      max("n").cast("decimal(19,0)").as("n"),
      sum(col("x")).cast("decimal(29,0)").as("sx"),
      sum(col("y")).cast("decimal(29,0)").as("sy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxx"))
    val den = (col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("decimal(38,0)").cast("double")
    val num = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast("decimal(38,0)").cast("double")
    val nD = col("n").cast("double")
    val interceptD = (col("sy").cast("double") / 1e9d -
      col("shape") * (col("sx").cast("double") / 1e9d)) / nD
    agg
      .withColumn("shape", when(col("n") >= 2 && den =!= 0d, num / den))
      .select(col("g").as(groupCol), col("n").cast("long").as("n_failures"),
        col("shape").cast("decimal(18,9)").cast("double").as("shape"),
        when(col("shape").isNotNull && col("shape") =!= 0d,
          exp(lit(-1d) * interceptD / col("shape")))
          .cast("decimal(18,9)").cast("double").as("scale"))
      .orderBy(groupCol)
  }

  /** Two-cohort event-rate comparison (epidemiology's rate-ratio test,
    * the COUNT-metric A/B next to [[abTest]]'s means and
    * [[shareTestPValues]]' proportions): cohort rates λ = K/T over
    * exposure T (user-days, sessions, requests), their ratio, and the
    * conditional test z — given K = K_a + K_b total events, under H₀
    * K_a ~ Binomial(K, T_a/(T_a+T_b)), so z = (K_a − K·p₀)/√(K·p₀(1−p₀))
    * (the standard person-time approximation; exposure-adjusted, so a
    * bigger cohort doesn't fake a lift).
    *
    * ONE conditional aggregate over the unit grain (the q05 trick: all
    * four sums in a single pass, map-side combinable); exact decimal
    * exposure/event sums, each rate ONE double division, the z chain
    * mirrored verbatim and quantized 9 dp. Empty cohort or K = 0 → NULL
    * ratio/z. */
  def rateRatioTest(df: DataFrame, inA: Column, exposureCol: Column,
                    eventsCol: Column): DataFrame = {
    val e = exposureCol.cast("decimal(18,6)")
    val k = eventsCol.cast("long")
    val agg = df.select(inA.as("ga"), e.as("t"), k.as("k")).agg(
      sum(when(col("ga"), col("t"))).cast("decimal(38,6)").as("ta"),
      sum(when(!col("ga"), col("t"))).cast("decimal(38,6)").as("tb"),
      coalesce(sum(when(col("ga"), col("k"))), lit(0L)).as("ka"),
      coalesce(sum(when(!col("ga"), col("k"))), lit(0L)).as("kb"))
    val taD = col("ta").cast("double"); val tbD = col("tb").cast("double")
    val kaD = col("ka").cast("double"); val kbD = col("kb").cast("double")
    val kTot = kaD + kbD
    val p0 = taD / (taD + tbD)
    val rateA = kaD / taD
    val rateB = kbD / tbD
    val z = (kaD - kTot * p0) / sqrt(kTot * p0 * (lit(1d) - p0))
    agg.select(
      col("ka").as("events_a"), col("kb").as("events_b"),
      col("ta").cast("double").as("exposure_a"), col("tb").cast("double").as("exposure_b"),
      when(col("ta").isNotNull && taD > 0d,
        rateA.cast("decimal(18,9)").cast("double")).as("rate_a"),
      when(col("tb").isNotNull && tbD > 0d,
        rateB.cast("decimal(18,9)").cast("double")).as("rate_b"),
      when(col("ta").isNotNull && col("tb").isNotNull && tbD > 0d && kbD > 0d && taD > 0d,
        (rateA / rateB).cast("decimal(18,9)").cast("double")).as("rate_ratio"),
      when(col("ta").isNotNull && col("tb").isNotNull && (kaD + kbD) > 0d,
        z.cast("decimal(18,9)").cast("double")).as("z"))
  }

  /** Sharp regression-discontinuity readout (Thistlethwaite & Campbell
    * 1960; Imbens & Lemieux 2008): units just below vs just above a
    * policy cutoff on a RUNNING variable are comparable, so the jump in
    * the outcome's local-linear fit AT the cutoff is a causal effect —
    * the non-time sibling of [[Analytics.interruptedSeries]] (which cuts
    * on the clock) and the fourth rung of the causal ladder after
    * abTest / ipwEffect / diffInDiff. Local: only rows within
    * `bandwidth` of the cutoff enter; separate OLS per side; jump =
    * intercept_right − intercept_left at the centered origin.
    *
    * ONE conditional aggregate computes both sides' power sums in a
    * single pass (the q05 trick). Exactness: centered running values
    * quantize to integer MICRO units and outcomes to cents; every OLS
    * fold then lives at decimal scale 0 (rounding impossible — the
    * [[weibullFit]] recipe), each slope is ONE double division re-scaled
    * by the exact 1e4 unit factor, and the intercept/jump chains are
    * mirrored verbatim then quantized 6 dp. A side with n < 2 or zero
    * variance → NULL fit (and NULL jump). */
  def regressionDiscontinuity(df: DataFrame, runningCol: Column, outcomeCol: Column,
                              cutoff: Double, bandwidth: Double): DataFrame = {
    val xd = runningCol.cast("double") - lit(cutoff)
    val base = df.select(xd.as("xd"), outcomeCol.cast("decimal(18,2)").as("y"))
      .filter(abs(col("xd")) <= lit(bandwidth))
      .select((col("xd") >= 0d).as("rt"),
        round(col("xd") * lit(1e6d)).cast("long").cast("decimal(19,0)").as("x"),
        (col("y") * 100).cast("decimal(28,0)").cast("decimal(19,0)").as("y"))
    def side(rt: Boolean, c: Column) = sum(when(col("rt") === rt, c))
    val agg = base.agg(
      count(when(!col("rt"), lit(1))).cast("decimal(19,0)").as("nl"),
      count(when(col("rt"), lit(1))).cast("decimal(19,0)").as("nr"),
      side(false, col("x")).cast("decimal(29,0)").as("sxl"),
      side(false, col("y")).cast("decimal(29,0)").as("syl"),
      side(false, (col("x") * col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxyl"),
      side(false, (col("x") * col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxxl"),
      side(true, col("x")).cast("decimal(29,0)").as("sxr"),
      side(true, col("y")).cast("decimal(29,0)").as("syr"),
      side(true, (col("x") * col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxyr"),
      side(true, (col("x") * col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxxr"))
    def fit(n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column) = {
      val den = (n * sxx - sx * sx).cast("decimal(38,0)").cast("double")
      val num = (n * sxy - sx * sy).cast("decimal(38,0)").cast("double")
      // x in micro units, y in cents: slope_real = (num/den) · 1e6/1e2
      val slope = when(n >= 2 && den =!= 0d, num / den * lit(1e4d))
      val icept = (sy.cast("double") / 100d - slope * (sx.cast("double") / 1e6d)) /
        n.cast("double")
      (slope, icept)
    }
    val (sl, il) = fit(col("nl"), col("sxl"), col("syl"), col("sxyl"), col("sxxl"))
    val (sr, ir) = fit(col("nr"), col("sxr"), col("syr"), col("sxyr"), col("sxxr"))
    agg.select(
      col("nl").cast("long").as("n_left"), col("nr").cast("long").as("n_right"),
      sl.cast("decimal(18,6)").cast("double").as("slope_left"),
      sr.cast("decimal(18,6)").cast("double").as("slope_right"),
      il.cast("decimal(18,6)").cast("double").as("intercept_left"),
      ir.cast("decimal(18,6)").cast("double").as("intercept_right"),
      (ir - il).cast("decimal(18,6)").cast("double").as("jump"))
  }

  /** Wald instrumental-variable estimate (the encouragement-design
    * reader — Angrist & Imbens' LATE under a binary instrument): when
    * treatment is self-selected but an INSTRUMENT z shifts it without
    * touching the outcome otherwise, LATE = (ȳ_{z=1} − ȳ_{z=0}) /
    * (x̄_{z=1} − x̄_{z=0}) — intention-to-treat over first stage. The
    * fifth causal rung after abTest / ipwEffect / diffInDiff /
    * regressionDiscontinuity.
    *
    * ONE conditional aggregate (q05 trick): exact decimal sums per
    * instrument arm, each mean ONE double division; ITT and first stage
    * quantize to 9 dp BEFORE the final ratio so both engines divide
    * identical numbers. Weak instrument (first stage quantizes to 0) or
    * an empty arm → NULL estimate. */
  def waldIvEstimate(df: DataFrame, instrument: Column, treatmentCol: Column,
                     outcomeCol: Column): DataFrame = {
    val x = treatmentCol.cast("decimal(18,6)")
    val y = outcomeCol.cast("decimal(18,2)")
    val agg = df.select(instrument.as("z"), x.as("x"), y.as("y")).agg(
      count(when(col("z"), lit(1))).as("n1"),
      count(when(!col("z"), lit(1))).as("n0"),
      sum(when(col("z"), col("x"))).cast("decimal(38,6)").as("sx1"),
      sum(when(!col("z"), col("x"))).cast("decimal(38,6)").as("sx0"),
      sum(when(col("z"), col("y"))).cast("decimal(38,2)").as("sy1"),
      sum(when(!col("z"), col("y"))).cast("decimal(38,2)").as("sy0"))
    val itt = (col("sy1").cast("double") / col("n1").cast("double") -
      col("sy0").cast("double") / col("n0").cast("double")).cast("decimal(18,9)")
    val fs = (col("sx1").cast("double") / col("n1").cast("double") -
      col("sx0").cast("double") / col("n0").cast("double")).cast("decimal(18,9)")
    agg
      .filter(col("n1") > 0 && col("n0") > 0)
      .select(col("n1").cast("long").as("n_encouraged"),
        col("n0").cast("long").as("n_control"),
        fs.cast("double").as("first_stage"),
        itt.cast("double").as("itt"),
        when(fs.cast("double") =!= 0d,
          (itt.cast("double") / fs.cast("double"))
            .cast("decimal(18,9)").cast("double")).as("late"))
  }

  /** Bland–Altman agreement analysis (Bland & Altman 1986 — the Lancet
    * method-comparison standard, the DIAGNOSTIC companion of
    * [[Analytics.demingRegression]]'s fitted line): for paired
    * measurements of the same quantity, the bias (mean difference), the
    * 95% limits of agreement bias ± 1.96·sd(diff), and how many pairs
    * fall outside — "do the two systems agree well enough to swap",
    * which correlation famously cannot answer.
    *
    * ONE aggregate of exact integer power sums over the differences,
    * then one broadcast of the 1-row stats frame back over the pairs to
    * count exceedances (allowlisted). Bias/limits in round(x·1e4)
    * fixed-point (money magnitudes); the outside test compares exact
    * integer diffs against the rounded limits — deterministic both
    * engines. n < 2 → NULL limits. */
  def blandAltman(pairs: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val base = pairs.select((xCol.cast("long") - yCol.cast("long")).as("dd"))
      .filter(col("dd").isNotNull)
      .localCheckpoint() // two consumers: the moments fold + the exceedance pass
    val d0 = (c: Column) => c.cast("decimal(19,0)")
    val stats = base.agg(count(lit(1)).as("n"),
      sum(d0(col("dd"))).cast("decimal(38,0)").as("sd1"),
      sum((d0(col("dd")) * d0(col("dd"))).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("sd2"))
    val nD = col("n").cast("double")
    val mean = col("sd1").cast("double") / nD
    val sd = sqrt((col("sd2").cast("double")
      - col("sd1").cast("double") * col("sd1").cast("double") / nD) / (nD - 1d))
    val fx = (c: Column) =>
      round(c * lit(1e4d)).cast("long").cast("double") / lit(1e4d)
    val lims = stats.select(col("n"),
      fx(mean).as("bias"),
      when(col("n") >= 2, fx(sd)).as("sd_diff"),
      when(col("n") >= 2, fx(mean - lit(1.959963985d) * sd)).as("loa_lo"),
      when(col("n") >= 2, fx(mean + lit(1.959963985d) * sd)).as("loa_hi"))
    base.crossJoin(broadcast(lims))
      .groupBy("n", "bias", "sd_diff", "loa_lo", "loa_hi")
      .agg(count(when(col("dd").cast("double") < col("loa_lo")
        || col("dd").cast("double") > col("loa_hi"), lit(1))).as("n_outside"))
      .select(col("n").cast("long").as("n_pairs"), col("bias"), col("sd_diff"),
        col("loa_lo"), col("loa_hi"), col("n_outside").cast("long").as("n_outside"))
  }

  /** Wilson score intervals per group (Wilson 1927 — the proportion CI
    * that behaves at the extremes where the naive Wald p̂ ± z√(p̂q̂/n)
    * collapses to zero width at p̂ ∈ {0,1} and escapes [0,1]): the
    * honest error bar for every rate a dashboard shows.
    * center = (p̂ + z²/2n)/(1 + z²/n),
    * half = z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n).
    *
    * ONE conditional hash aggregate per group (map-side combined);
    * exact integer counts, rate and bounds one mirrored double chain
    * each in nano fixed-point, clamped to [0,1]. */
  def wilsonIntervals(df: DataFrame, groupCol: String, successCond: Column,
                      z: Double = 1.959963985): DataFrame = {
    val agg = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n"), count(when(successCond, lit(1))).as("k"))
    val nD = col("n").cast("double"); val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1d) + z2 / nD
    val center = (p + z2 / (lit(2d) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1d) - p) / nD
      + z2 / (lit(4d) * nD * nD)) / denom
    val fx = (c: Column) =>
      round(c * lit(1e9d)).cast("long").cast("double") / lit(1e9d)
    agg.select(col("g").as(groupCol),
        col("n").cast("long").as("n"), col("k").cast("long").as("k"),
        fx(p).as("rate"),
        fx(greatest(lit(0d), center - half)).as("ci_lo"),
        fx(least(lit(1d), center + half)).as("ci_hi"))
      .orderBy(groupCol)
  }

  /** Ratio-metric A/B comparison by the delta method (Fieller/Deming
    * lineage; the modern experimentation-platform standard for
    * "revenue per session"-shaped metrics, where the UNIT of analysis
    * (user) differs from the denominator (sessions) and a naive
    * row-level t-test is simply wrong): per arm, R = ΣX/ΣY with
    * Var(R) ≈ (Var(X) + R²Var(Y) − 2R·Cov(X,Y)) / (n·Ȳ²), then one z
    * for the difference.
    *
    * Caller supplies ONE ROW PER RANDOMIZATION UNIT (pre-aggregate!).
    * One GLOBAL conditional aggregate computes both arms' five power sums
    * in a single pass — a global aggregate yields exactly one row even
    * over zero input rows, so a missing arm degrades to n=0 + NULL sums
    * and the guarded readouts below, one output row with NULL statistics
    * and never an empty frame (and there is no per-arm crossJoin to
    * allowlist). Every readout is a mirrored double chain in nano
    * fixed-point. Degenerate arms (n < 2 or ΣY = 0 or zero variance)
    * → NULL z, never a crash. */
  def ratioMetricDelta(units: DataFrame, treatedCond: Column,
                       numCol: Column, denCol: Column): DataFrame = {
    val base = units.select(treatedCond.cast("int").as("t"),
      numCol.cast("long").as("x"), denCol.cast("long").as("y"))
    val d0 = (c: Column) => c.cast("decimal(19,0)")
    def armAgg(t: Int, sfx: String): Seq[Column] = {
      val in = col("t") === t
      Seq(count(when(in, lit(1))).as(s"n$sfx"),
        sum(when(in, d0(col("x")))).cast("decimal(38,0)").as(s"sx$sfx"),
        sum(when(in, d0(col("y")))).cast("decimal(38,0)").as(s"sy$sfx"),
        sum(when(in, (d0(col("x")) * d0(col("x"))).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as(s"sxx$sfx"),
        sum(when(in, (d0(col("y")) * d0(col("y"))).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as(s"syy$sfx"),
        sum(when(in, (d0(col("x")) * d0(col("y"))).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as(s"sxy$sfx"))
    }
    val aggs = armAgg(1, "_t") ++ armAgg(0, "_c")
    val j = base.agg(aggs.head, aggs.tail: _*)
    def rv(s: String): (Column, Column, Column) = {
      val nD = col(s"n$s").cast("double")
      val r = col(s"sx$s").cast("double") / col(s"sy$s").cast("double")
      val vx = (col(s"sxx$s").cast("double") - col(s"sx$s").cast("double")
        * col(s"sx$s").cast("double") / nD) / (nD - 1d)
      val vy = (col(s"syy$s").cast("double") - col(s"sy$s").cast("double")
        * col(s"sy$s").cast("double") / nD) / (nD - 1d)
      val cxy = (col(s"sxy$s").cast("double") - col(s"sx$s").cast("double")
        * col(s"sy$s").cast("double") / nD) / (nD - 1d)
      val yBar = col(s"sy$s").cast("double") / nD
      val vr = (vx + r * r * vy - lit(2d) * r * cxy) / (nD * yBar * yBar)
      (r, vr, nD)
    }
    val (rt, vrt, _) = rv("_t"); val (rc, vrc, _) = rv("_c")
    val fx = (c: Column) =>
      round(c * lit(1e9d)).cast("long").cast("double") / lit(1e9d)
    val okT = col("n_t") > 1 && col("sy_t") > 0
    val okC = col("n_c") > 1 && col("sy_c") > 0
    j.select(col("n_t").cast("long").as("n_treated"),
      col("n_c").cast("long").as("n_control"),
      when(col("sy_t") > 0, fx(rt)).as("ratio_treated"),
      when(col("sy_c") > 0, fx(rc)).as("ratio_control"),
      when(okT && okC, fx(rt - rc)).as("diff"),
      when(okT && okC && (vrt + vrc) > 0d,
        fx((rt - rc) / sqrt(vrt + vrc))).as("z"))
  }

  /** Stratified average treatment effect (Cochran 1968 subclassification
    * — the transparent middle rung between the raw [[abTest]] diff and
    * [[ipwEffect]]'s reweighting): within-stratum treated−control mean
    * differences combined with population-share weights n_s/N, so a
    * confounder captured by the strata stops polluting the comparison.
    * Strata missing an arm get a NULL effect and are EXCLUDED from the
    * combined row (weights renormalize over estimable strata — the
    * standard trimming, reported via the weight column so nothing is
    * silent). Output: one row per stratum plus the '__ALL__' combine.
    *
    * One conditional aggregate to (stratum, arm sums); the strata table
    * is dim-sized so the N window is metadata-sized. Arm sums exact
    * integer cents; means and effects in round(x·1e4)/1e4 fixed-point
    * (money magnitudes — the xmr/yuen recipe); each weighted term
    * rounds to 1e4 units pre-sum so the combine is order-free. */
  def stratifiedAte(df: DataFrame, stratumCol: String, treatedCond: Column,
                    unitCol: Column): DataFrame = {
    val base = df.select(col(stratumCol).cast("string").as("s"),
      treatedCond.cast("int").as("t"), unitCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
    val strata = base.groupBy("s").agg(
        count(when(col("t") === 1, lit(1))).as("n_t"),
        count(when(col("t") === 0, lit(1))).as("n_c"),
        sum(when(col("t") === 1, col("v"))).as("sv_t"),
        sum(when(col("t") === 0, col("v"))).as("sv_c"))
      .localCheckpoint() // per-stratum rows + the combine
    val fx = (c: Column) =>
      round(c * lit(1e4d)).cast("long").cast("double") / lit(1e4d)
    val est = col("n_t") > 0 && col("n_c") > 0
    val diff = col("sv_t").cast("double") / col("n_t").cast("double") -
      col("sv_c").cast("double") / col("n_c").cast("double")
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rows = strata
      .withColumn("nEst",
        sum(when(est, col("n_t") + col("n_c"))).over(wAll))
      .select(col("s").as("stratum"),
        col("n_t").cast("long").as("n_treated"),
        col("n_c").cast("long").as("n_control"),
        when(est, fx(col("sv_t").cast("double") / col("n_t").cast("double")))
          .as("mean_treated"),
        when(est, fx(col("sv_c").cast("double") / col("n_c").cast("double")))
          .as("mean_control"),
        when(est, fx(diff)).as("effect"),
        when(est, round((col("n_t") + col("n_c")).cast("double") /
            col("nEst").cast("double") * lit(1e9d))
          .cast("long").cast("double") / lit(1e9d)).as("weight"),
        when(est, round(((col("n_t") + col("n_c")).cast("double") /
            col("nEst").cast("double")) * diff * lit(1e4d)).cast("long"))
          .as("wterm"))
      .localCheckpoint() // listed twice: detail rows + the combine fold
    val all = rows.agg(
        sum("n_treated").as("n_treated"), sum("n_control").as("n_control"),
        sum("wterm").as("ate4"))
      .select(lit("__ALL__").as("stratum"),
        col("n_treated").cast("long").as("n_treated"),
        col("n_control").cast("long").as("n_control"),
        lit(null).cast("double").as("mean_treated"),
        lit(null).cast("double").as("mean_control"),
        (col("ate4").cast("double") / lit(1e4d)).as("effect"),
        lit(1.0d).as("weight"))
    rows.drop("wterm").unionAll(all).orderBy("stratum")
  }

  /** Qini / uplift-by-decile curve (Radcliffe 2007) — the evaluation
    * for TARGETING: rank the population by a model score, and at each
    * decile ask how many extra conversions the treated group shows over
    * the control's rate scaled to the treated volume,
    * Q(k) = Yt(k) − Yc(k)·Nt(k)/Nc(k). A score that concentrates
    * REAL uplift bends the curve above the random-targeting diagonal;
    * ranking by raw response instead of uplift is the classic trap this
    * readout exposes. Completes the causal ladder after
    * [[stratifiedAte]]: not "what is the effect" but "WHO should get
    * the treatment".
    *
    * Ranks via the two-pass distributed [[Analytics.globalRowNumber]]
    * (score desc, id tiebreak — total order), deciles by exact integer
    * arithmetic off the 1-row count frame (allowlisted); per-decile
    * conditional counts then 10-row cumulative windows
    * (metadata-sized). Qini/uplift are mirrored double chains in 1e4 /
    * nano fixed-point. Deciles with an empty cumulative control → NULL. */
  def qiniCurve(df: DataFrame, idCol: String, treatedCond: Column,
                outcomeCond: Column, scoreCol: Column): DataFrame = {
    val base = df.select(col(idCol).as("id"), treatedCond.cast("int").as("t"),
      outcomeCond.cast("int").as("y"),
      (-scoreCol.cast("double")).as("negscore"))
    val ranked = Analytics.globalRowNumber(base, Seq("negscore", "id"), "rk")
    val nFrame = ranked.agg(count(lit(1)).as("__n"))
    val perDec = ranked.crossJoin(broadcast(nFrame))
      .withColumn("dec", expr("least(9, ((rk - 1) * 10) div __n)"))
      .groupBy("dec")
      .agg(count(when(col("t") === 1, lit(1))).as("n_t"),
        count(when(col("t") === 0, lit(1))).as("n_c"),
        count(when(col("t") === 1 && col("y") === 1, lit(1))).as("y_t"),
        count(when(col("t") === 0 && col("y") === 1, lit(1))).as("y_c"))
    val wCum = Window.orderBy("dec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perDec
      .withColumn("cn_t", sum("n_t").over(wCum))
      .withColumn("cn_c", sum("n_c").over(wCum))
      .withColumn("cy_t", sum("y_t").over(wCum))
      .withColumn("cy_c", sum("y_c").over(wCum))
    val qini = col("cy_t").cast("double") - col("cy_c").cast("double") *
      (col("cn_t").cast("double") / col("cn_c").cast("double"))
    val uplift = col("cy_t").cast("double") / col("cn_t").cast("double") -
      col("cy_c").cast("double") / col("cn_c").cast("double")
    cum.select(col("dec").cast("int").as("decile"),
        col("cn_t").cast("long").as("cum_n_treated"),
        col("cn_c").cast("long").as("cum_n_control"),
        col("cy_t").cast("long").as("cum_y_treated"),
        col("cy_c").cast("long").as("cum_y_control"),
        when(col("cn_c") > 0 && col("cn_t") > 0,
          round(qini * lit(1e4d)).cast("long").cast("double") / lit(1e4d))
          .as("qini"),
        when(col("cn_c") > 0 && col("cn_t") > 0,
          round(uplift * lit(1e9d)).cast("long").cast("double") / lit(1e9d))
          .as("uplift"))
      .orderBy("decile")
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010) between two
    * rankings of the same universe — "did my top-sellers list actually
    * change?" with the property the set-based Jaccard and the
    * whole-list Kendall both lack: TOP-WEIGHTED (a swap at rank 1
    * matters, a swap at rank 40 barely does) and defined for
    * non-conjoint lists (an item present in only one list just never
    * enters the overlap). Truncated form: RBO@D = Σ_{d=1..D}
    * (1−p)·p^(d−1) · |A₁..d ∩ B₁..d| / d; the tail weight p^D is
    * reported so the caller sees the bound width (RBO_min = rbo,
    * RBO_max = rbo + p^D).
    *
    * Both sides rank by score desc, item asc (total tie order), keep
    * their top D; an item in both prefixes enters the overlap at depth
    * max(rank_a, rank_b) — so ONE item-keyed join + one join against
    * the D-row literal depth table (bounded fan-out ≤ D per item)
    * computes every prefix-intersection size without self-joins.
    * Exactness: the weights (1−p)·p^(d−1) are PRE-QUANTIZED
    * DECIMAL(18,12) literals computed in exact BigDecimal on the
    * driver (no cross-engine pow); each agreement A_d = ov/d rounds to
    * integer nano-units before the exact decimal weight·agreement
    * product — the sum is order-free, ONE final double division. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, itemCol: String,
                        scoreCol: String, p: BigDecimal, depth: Int): DataFrame = {
    require(depth >= 1 && p > 0 && p < 1, "need depth >= 1, 0 < p < 1")
    val spark = a.sparkSession
    import spark.implicits._
    // top-D via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, no global sort); the rank window then runs over ≤ D rows,
    // so its single partition is bounded by the declared depth, not data
    def top(df: DataFrame, out: String): DataFrame = {
      val w = Window.orderBy(col(scoreCol).desc, col("item"))
      df.select(col(itemCol).as("item"), col(scoreCol))
        .orderBy(col(scoreCol).desc, col("item")).limit(depth)
        .withColumn(out, row_number().over(w))
        .select(col("item"), col(out))
    }
    // weights w_d = (1-p) p^(d-1), exact BigDecimal then quantized once
    val one = BigDecimal(1)
    val weights = (1 to depth).scanLeft(one - p)((w, _) => w * p).init
      .zipWithIndex
      .map { case (w, i) =>
        (i + 1, w.setScale(12, BigDecimal.RoundingMode.HALF_UP)) }
    val wdf = weights.toDF("d", "w")
      .select(col("d"), col("w").cast("decimal(18,12)").as("w"))
    val tailP = (1 to depth).foldLeft(one)((acc, _) => acc * p)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val joined = top(a, "ra").join(top(b, "rb"), "item")
      .select(greatest(col("ra"), col("rb")).as("mr"))
    // agreement A_d = ov/d as integer NANO units (the MAP@k recipe — no
    // double→decimal cast exposure); w·A_d is then an exact decimal product
    joined.join(broadcast(wdf), col("mr") <= col("d"))
      .groupBy("d", "w").agg(count(lit(1)).as("ov"))
      .agg(
        max(when(col("d") === depth, col("ov"))).as("n_common"),
        sum((col("w") *
          round(col("ov").cast("double") / col("d").cast("double") * lit(1e9d))
            .cast("long").cast("decimal(20,0)")).cast("decimal(38,12)")).as("s"))
      .select(
        lit(depth).cast("int").as("depth"),
        coalesce(col("n_common"), lit(0L)).cast("long").as("n_common"),
        coalesce((col("s").cast("double") / lit(1e9d))
          .cast("decimal(18,9)").cast("double"), lit(0d)).as("rbo"),
        lit(tailP.toDouble).as("tail_bound"))
  }

  /** Yuen's trimmed-mean two-sample test (Yuen 1974) — the robust rung
    * between [[abTest]]'s whale-wreckable Welch t and Mann–Whitney's
    * location-free ranks: compare 20%-TRIMMED means with WINSORIZED
    * variances, so a single outlier moves nothing, yet the statistic
    * still answers "how different are the typical levels" in the
    * metric's own units. t = (tm₁−tm₂)/√(d₁+d₂) with
    * dᵢ = s²_{w,i}(nᵢ−1)/(hᵢ(hᵢ−1)), hᵢ = nᵢ − 2⌊γnᵢ⌋, and
    * Welch–Satterthwaite df over the same dᵢ.
    *
    * SCALE CONTRACT (the [[Analytics.hodgesLehmannShift]] /
    * mannKendall one): inputs are pre-aggregated bounded series, so the
    * two per-group rank windows are dim-sized. Exactness: integer-unit
    * values; trimmed/winsorized sums are exact scale-0 decimals (the
    * winsorized replacement values are themselves order statistics =
    * integers); every readout is one mirrored double chain, 9 dp.
    * A group with h < 2 → NULL t/df; an EMPTY arm still yields the one
    * output row (arms densify onto a 1-row literal), with n/h of 0 and
    * NULL means/statistics. Rank ties take (value, rank-stable
    * id) order but identical values make identical contributions, so
    * the sums are tie-order invariant. */
  def yuenTrimmedTest(df: DataFrame, treatedCond: Column, unitCol: Column,
                      trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5, "trim fraction in (0, 0.5)")
    val base = df.select(treatedCond.cast("int").as("t"),
      unitCol.cast("long").as("v")).filter(col("v").isNotNull)
    val wr = Window.partitionBy("t").orderBy("v")
    val wn = Window.partitionBy("t")
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val ranked = base
      .withColumn("rk", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("g", floor(col("n").cast("double") * lit(trim)).cast("long"))
    // winsorized value: clamp below rank g+1's value, above rank n−g's
    val bounds = ranked.groupBy("t")
      .agg(min(when(col("rk") > col("g"), col("v"))).as("lo"),
        max(when(col("rk") <= col("n") - col("g"), col("v"))).as("hi"))
    val perGroup = ranked.join(bounds, "t")
      .withColumn("wv", least(greatest(col("v"), col("lo")), col("hi")))
      .groupBy("t")
      .agg(max("n").as("n"), max("g").as("g"),
        sum(when(col("rk") > col("g") && col("rk") <= col("n") - col("g"),
          d19(col("v")))).cast("decimal(38,0)").as("tsum"),
        sum(d19(col("wv"))).cast("decimal(38,0)").as("wsum"),
        sum((d19(col("wv")) * d19(col("wv"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("wsq"))
      .withColumn("h", col("n") - lit(2L) * col("g"))
    def side(t: Int, suffix: String): DataFrame = {
      val nD = col("n").cast("double"); val hD = col("h").cast("double")
      val swvar = (col("wsq").cast("double")
        - col("wsum").cast("double") * col("wsum").cast("double") / nD) / (nD - 1d)
      perGroup.filter(col("t") === t).select(
        col("n").as(s"n$suffix"), col("h").as(s"h$suffix"),
        (col("tsum").cast("double") / hD).as(s"tm$suffix"),
        when(col("h") >= 2, swvar * (nD - 1d) / (hD * (hD - 1d)))
          .otherwise(lit(null).cast("double")).as(s"d$suffix"))
    }
    // densify both arms onto a 1-row literal (the groupSequential grid
    // pattern): an EMPTY arm must still yield one output row with NULL
    // statistics — a bare crossJoin of the two arm frames would return
    // an empty frame instead, contradicting the degenerate-arm contract
    val one = df.sparkSession.range(1).select(lit(1).as("__k"))
    def densified(d: DataFrame): DataFrame =
      one.join(d.withColumn("__k", lit(1)), Seq("__k"), "left").drop("__k")
    densified(side(1, "_t")).crossJoin(broadcast(densified(side(0, "_c"))))
      .select(
        coalesce(col("n_t"), lit(0L)).cast("long").as("n_treated"),
        coalesce(col("n_c"), lit(0L)).cast("long").as("n_control"),
        coalesce(col("h_t"), lit(0L)).cast("long").as("h_treated"),
        coalesce(col("h_c"), lit(0L)).cast("long").as("h_control"),
        // money-magnitude means: round(x·1e4)/1e4 fixed-point, NOT a
        // decimal(18,9) cast — 20× daily cents overflow 1e9 (20× replication)
        (round(col("tm_t") * lit(1e4d)).cast("long").cast("double") / lit(1e4d))
          .as("tmean_treated"),
        (round(col("tm_c") * lit(1e4d)).cast("long").cast("double") / lit(1e4d))
          .as("tmean_control"),
        when(col("d_t").isNotNull && col("d_c").isNotNull,
          ((col("tm_t") - col("tm_c")) / sqrt(col("d_t") + col("d_c")))
            .cast("decimal(18,9)").cast("double")).as("t_stat"),
        when(col("d_t").isNotNull && col("d_c").isNotNull,
          (((col("d_t") + col("d_c")) * (col("d_t") + col("d_c")))
            / (col("d_t") * col("d_t") / (col("h_t").cast("double") - 1d)
              + col("d_c") * col("d_c") / (col("h_c").cast("double") - 1d)))
            .cast("decimal(18,9)").cast("double")).as("df"))
  }

  /** Restricted mean survival time (Royston & Parmar 2013's preferred
    * effect measure; Irwin 1949): the area under the [[kaplanMeier]]
    * curve up to a horizon τ — "expected event-free time within the
    * first τ days", the estimand that stays meaningful when hazards
    * cross and the median is never reached (where logRank's single
    * number misleads and the KM median is undefined).
    *
    * Rides the KM output directly: one lead window over the
    * duration-grain event table (bounded like [[logRankTest]]'s), each
    * rectangle S(tᵢ)·(min(tᵢ₊₁,τ) − min(tᵢ,τ)) an EXACT decimal product
    * (the 9 dp survival is re-cast to decimal losslessly; widths are
    * integer day counts), plus the leading min(t₁,τ)·1.0 strip. An
    * empty event table means S ≡ 1 ⇒ RMST = τ. Inherits KM's 1-row
    * total frame (plan-contract allowlisted). */
  def restrictedMeanSurvival(df: DataFrame, durationCol: String,
                             eventCol: Column, tau: Long): DataFrame = {
    require(tau > 0, "horizon must be positive")
    val km = kaplanMeier(df, durationCol, eventCol)
    val w = Window.orderBy("t")
    val stepped = km
      .withColumn("lead_t", lead("t", 1).over(w))
      .withColumn("a", least(col("t"), lit(tau)))
      .withColumn("b", least(coalesce(col("lead_t"), lit(tau)), lit(tau)))
      .withColumn("term",
        (col("survival").cast("decimal(18,9)") *
          (col("b") - col("a")).cast("decimal(19,0)")).cast("decimal(38,9)"))
    stepped
      .agg(count(lit(1)).as("n_event_times"), min("t").as("t1"),
        sum("term").as("area"))
      .select(lit(tau).as("tau"),
        col("n_event_times").cast("long").as("n_event_times"),
        // area narrows (38,9)→(18,9) BEFORE the add: a (19,0)+(38,9)
        // add needs precision 39 and Catalyst silently drops the scale
        // to 8 (the documented decimal-cap gotcha); rmst ≤ τ so (18,9)
        // holds the exact value
        (coalesce(least(col("t1"), lit(tau)), lit(tau)).cast("decimal(19,0)")
          + coalesce(col("area"), lit(0).cast("decimal(38,9)")).cast("decimal(18,9)"))
          .cast("decimal(18,9)").cast("double").as("rmst"))
  }

  /** Spiegelhalter's calibration Z (Spiegelhalter 1986) — the
    * SIGNIFICANCE companion of [[brierDecomposition]]'s diagnostic
    * split: is the Brier score worse than a PERFECTLY CALIBRATED
    * forecaster of the same sharpness would produce by luck?
    * Z = Σ(y−p)(1−2p) / √(Σ(1−2p)²p(1−p)); |Z| > 2 says the scores are
    * systematically mis-scaled (not merely imprecise), bin-free — no
    * arbitrary bucket grid like the reliability curve needs.
    *
    * ONE scan-stage aggregate: each numerator/denominator term is a
    * short mirrored double chain rounded to integer NANO units pre-sum
    * (order-free exact long sums; round() is half-away in both
    * engines, where a decimal cast of a full-mantissa double ulp-flips
    * — measured here), then Z is one division by the one portable libm
    * sqrt. Degenerate denominator (all p ∈ {0,1}) → NULL. Rows with p
    * outside [0,1] are rejected by contract. */
  def spiegelhalterZ(df: DataFrame, pCol: Column, yCol: Column): DataFrame = {
    val base = df.select(pCol.cast("double").as("p"),
        yCol.cast("int").cast("double").as("y"))
      .filter(col("p") >= 0d && col("p") <= 1d)
    // integer nano-unit terms, NOT decimal casts of full-mantissa
    // doubles (DuckDB's double→decimal cast ulp-flips; round() is
    // half-away in both engines — measured on this very query)
    val q9 = (c: Column) => round(c * lit(1e9d)).cast("long")
    val numT = q9((col("y") - col("p")) * (lit(1d) - lit(2d) * col("p")))
    val denT = q9((lit(1d) - lit(2d) * col("p")) * (lit(1d) - lit(2d) * col("p"))
      * col("p") * (lit(1d) - col("p")))
    val brierT = q9((col("y") - col("p")) * (col("y") - col("p")))
    base.agg(count(lit(1)).as("n"), sum(numT).as("sn"), sum(denT).as("sd"),
        sum(brierT).as("sb"))
      .select(col("n").cast("long").as("n"),
        (round(col("sb").cast("double") / lit(1e9d) / col("n").cast("double")
          * lit(1e9d)).cast("long").cast("double") / lit(1e9d)).as("brier"),
        when(col("sd") > 0,
          round(col("sn").cast("double") / lit(1e9d)
              / sqrt(col("sd").cast("double") / lit(1e9d))
            * lit(1e9d)).cast("long").cast("double") / lit(1e9d))
          .otherwise(lit(null).cast("double")).as("z"))
  }

  /** Group-sequential A/B monitor with O'Brien–Fleming boundaries
    * (Pocock 1977 framing; OBF 1979; Jennison & Turnbull 2000 table):
    * K interim looks at evenly spaced time cuts, each testing the
    * CUMULATIVE Welch z against a spending boundary that is strict
    * early (|z|>4.88 at look 1) and near-nominal at the end (2.03 at
    * look 5) — the pre-registered way to peek K times while holding
    * family α, where naive repeated [[abTest]] peeking inflates it
    * ~3×. `bounds` IS the spending schedule (literal, K entries).
    *
    * Look assignment is exact integer math off the 1-row (min,max)
    * timestamp frame (allowlisted): look = min(K, 1+⌊(ts−mn)·K/(mx−mn+1)⌋).
    * One per-(look, arm) partial aggregate (map-side combined), K·2
    * rows, then a K-row running-sum window (metadata-sized) and one
    * mirrored Welch chain per look, 9 dp. Degenerate looks (an arm
    * missing or single-row) → NULL z, never a crash. */
  def groupSequential(events: DataFrame, treatedCond: Column,
                      unitCol: Column, tsCol: String,
                      bounds: Seq[Double]): DataFrame = {
    val kLooks = bounds.length
    require(kLooks >= 2, "need at least two looks")
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.select(treatedCond.cast("int").as("t"),
      unitCol.cast("long").as("v"), unix_micros(col(tsCol)).as("ts_us"))
      .filter(col("v").isNotNull)
    val span = base.agg(min("ts_us").as("mn"), max("ts_us").as("mx"))
    val d0 = (c: Column) => c.cast("decimal(19,0)")
    val perLook0 = base.crossJoin(broadcast(span))
      .withColumn("look",
        least(lit(kLooks.toLong),
          expr(s"1 + ((ts_us - mn) * $kLooks) div (mx - mn + 1)")))
      .groupBy("look", "t")
      .agg(count(lit(1)).as("n"), sum(d0(col("v"))).cast("decimal(38,0)").as("sv"),
        sum((d0(col("v")) * d0(col("v"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("svv"))
    // densify the K×2 grid: an empty (look, arm) bucket must still CARRY
    // the cumulative state forward, not drop the look for that arm
    val grid = (1 to kLooks).flatMap(l => Seq((l.toLong, 0), (l.toLong, 1)))
      .toDF("look", "t")
    val perLook = grid.join(perLook0, Seq("look", "t"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("sv", coalesce(col("sv"), lit(0).cast("decimal(38,0)")))
      .withColumn("svv", coalesce(col("svv"), lit(0).cast("decimal(38,0)")))
    val wCum = Window.partitionBy("t").orderBy("look")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perLook
      .withColumn("cn", sum("n").over(wCum))
      .withColumn("csv", sum("sv").over(wCum).cast("decimal(38,0)"))
      .withColumn("csvv", sum("svv").over(wCum).cast("decimal(38,0)"))
    def arm(t: Int, sfx: String): DataFrame =
      cum.filter(col("t") === t).select(col("look"),
        col("cn").as(s"n$sfx"), col("csv").as(s"sv$sfx"), col("csvv").as(s"svv$sfx"))
    val bdf = bounds.zipWithIndex.map { case (b, i) => (i + 1L, b) }
      .toDF("look", "bound")
    def mv(n: Column, sv: Column, svv: Column): (Column, Column) = {
      val nD = n.cast("double")
      val m = sv.cast("double") / nD
      val v = (svv.cast("double") - sv.cast("double") * sv.cast("double") / nD) /
        (nD - 1d)
      (m, v)
    }
    val joined = arm(1, "_t").join(arm(0, "_c"), Seq("look"), "full")
      .join(broadcast(bdf), Seq("look"))
    val (mt, vt) = mv(col("n_t"), col("sv_t"), col("svv_t"))
    val (mc, vc) = mv(col("n_c"), col("sv_c"), col("svv_c"))
    val se = sqrt(vt / col("n_t").cast("double") + vc / col("n_c").cast("double"))
    val z = when(col("n_t") > 1 && col("n_c") > 1 && se > 0d,
      round((mt - mc) / se * lit(1e9d)).cast("long").cast("double") / lit(1e9d))
    joined.select(col("look").cast("long").as("look"),
        coalesce(col("n_t"), lit(0L)).cast("long").as("n_treated"),
        coalesce(col("n_c"), lit(0L)).cast("long").as("n_control"),
        z.as("z"), col("bound"),
        when(z.isNotNull, (abs(z) > col("bound")).cast("int"))
          .otherwise(lit(0)).as("crossed"))
      .orderBy("look")
  }
}
