package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** ANN brute-force exactness, LSH recall vs the exact baseline, near-dup
  * cosine on planted duplicates, and plan-shape guards. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("cosine math: orthogonal 0, identical 1, zero-vector guarded") {
    assert(Similarity.cosine(vec(1, 0), vec(0, 1)) == 0.0)
    assert(math.abs(Similarity.cosine(vec(1, 2, 3), vec(1, 2, 3)) - 1.0) < 1e-12)
    assert(Similarity.cosine(vec(0, 0), vec(1, 1)) == 0.0)
  }

  test("bruteForceTopK: exact neighbors on a known geometry") {
    // query 0 at (1,0); ids 1..4 at increasing angles
    val df = Seq(
      (0L, vec(1, 0)), (1L, vec(0.99, 0.14)), (2L, vec(0.9, 0.43)),
      (3L, vec(0.5, 0.86)), (4L, vec(0, 1))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L), 3).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L)) // by descending cosine
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2, 3))     // rank column
    assert(out.head.getDouble(2) > out.last.getDouble(2))
  }

  test("bruteForceTopK: cosine ties rank by ascending id (heap evicts max-id victim)") {
    // ids 5,3,2,4 all identical to the query → 4-way tie; top-2 must be {2,3}
    val v = vec(1, 1)
    val df = Seq((0L, v), (5L, v), (3L, v), (2L, v), (4L, v)).toDF("vec_id", "embedding")
      .repartition(1) // single partition so the bounded heap sees every arrival order effect
    val out = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L), 2).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L), out.mkString(","))
  }

  test("bruteForceTopK: excludes the query itself") {
    val df = Seq((0L, vec(1, 0)), (1L, vec(1, 0))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L), 5).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L))
  }

  test("annLshTopK: high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(7)
    // 10 clusters of 20 points each in 16-d
    val centers = Array.fill(10)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val rows = for {
      c <- centers.indices
      i <- 0 until 20
    } yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      ((c * 20 + i).toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = Seq(0L, 20L, 40L)
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annLshTopK(df, "vec_id", "embedding", queries, 5,
      bands = 16, bitsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low; exact=$exact approx=$approx")
  }

  test("nearDupCosine: planted exact duplicates found at threshold 0.99") {
    val rnd = new scala.util.Random(3)
    val originals = (0L until 50L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val dups = originals.take(5).map { case (i, v) => (i + 1000L, v.clone()) }
    val df = (originals ++ dups).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupCosine(df, "vec_id", "embedding", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 5L).map(i => (i, i + 1000L)).toSet
    assert(expected.subsetOf(pairs), s"missing planted dups: ${expected.diff(pairs)}")
  }

  test("VectorHof: dot/norm/normalize/axpy agree with JVM math, codegen'd") {
    import org.apache.spark.sql.functions.col
    val df = Seq((Array(3f, 4f), Array(1f, 2f)), (Array(0f, 0f), Array(5f, 5f)))
      .toDF("a", "b")
    val out = df.select(
      Similarity.VectorHof.dot(col("a"), col("b")).as("d"),
      Similarity.VectorHof.l2Norm(col("a")).as("n"),
      Similarity.VectorHof.normalize(col("a")).as("u"),
      Similarity.VectorHof.axpy(org.apache.spark.sql.functions.lit(2.0), col("b"), col("a")).as("x"))
      .collect()
    assert(out(0).getDouble(0) == 11.0 && out(0).getDouble(1) == 5.0)
    assert(out(0).getSeq[Float](2) == Seq(0.6f, 0.8f))
    assert(out(0).getSeq[Float](3) == Seq(5f, 8f))       // a + 2b
    assert(out(1).getSeq[Float](2) == Seq(0f, 0f))       // zero vector unchanged
    // matches the native expression on the nonzero row
    val cosHof = (11.0 / (5.0 * math.sqrt(5.0)))
    val cosNative = df.select(graft.functions.Native.cosineF32(col("a"), col("b")))
      .collect()(0).getDouble(0)
    assert(math.abs(cosHof - cosNative) < 1e-9)
  }

  test("kmeansAssign: recovers planted blobs; deterministic under repartitioning") {
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextDouble().toFloat * 4))
    // ids 0..3 land in distinct blobs (seed vectors), then 25 points per blob
    val rows = for (i <- 0 until 100) yield {
      val c = i % 4
      (i.toLong, centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val a = Similarity.kmeansAssign(df, "vec_id", "embedding", k = 4, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every member of blob c must share blob-seed c's cluster
    (0 until 100).foreach { i =>
      assert(a(i.toLong) == a((i % 4).toLong), s"point $i split from its blob")
    }
    assert(a.values.toSet.size == 4)
    val b = Similarity.kmeansAssign(df.repartition(13), "vec_id", "embedding", k = 4, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b, "assignment changed under repartitioning")
  }

  test("annIvfTopK: full probe equals brute force; partial probe has high recall") {
    val rnd = new scala.util.Random(11)
    // 8 clusters of 25 points, cluster c seeded by ids c*25..; ids 0..7 land
    // in distinct clusters so they make well-spread centroid seeds
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val rows = for (i <- 0 until 200) yield {
      val c = i % 8 // ids 0..7 hit each cluster once before wrapping
      ((i.toLong, centers(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = Seq(8L, 9L, 10L)
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val full = Similarity.annIvfTopK(df, "vec_id", "embedding", queries, 5,
      nCells = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == exact, s"full-probe IVF must equal brute force\n${exact.diff(full)}")
    val partial = Similarity.annIvfTopK(df, "vec_id", "embedding", queries, 5,
      nCells = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.map(t => (t._1, t._2)).intersect(partial).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall too low")
  }

  test("annIvfTopK plan: probe join broadcasts, no cartesian product") {
    val rnd = new scala.util.Random(2)
    val df = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.annIvfTopK(df, "vec_id", "embedding", Seq(20L), 3,
      nCells = 4, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ANN LSH plan: no cartesian product; candidate join is broadcast") {
    val rnd = new scala.util.Random(1)
    val df = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.annLshTopK(df, "vec_id", "embedding", Seq(0L), 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("hardNegatives: neighbors never share the anchor's label; ranks match a filtered brute force") {
    // two tight clusters: label 0 near (1,0), label 1 near (0,1); anchor 0
    // in label 0 → its hard negatives are the label-1 rows, nearest first
    val rows = Seq(
      (0L, 0, vec(1.0, 0.0)), (1L, 0, vec(0.99, 0.1)), (2L, 0, vec(0.98, 0.2)),
      (10L, 1, vec(0.0, 1.0)), (11L, 1, vec(0.3, 0.95)), (12L, 1, vec(0.5, 0.86)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(rows, "vec_id", "embedding", "label",
      Seq(0L, 10L), k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    // anchor 0 (label 0): nearest cross-label are 12 (cos≈0.5) then 11
    // anchor 10 (label 1): nearest cross-label are 2 (cos≈0.2) then 1
    assert(got.toSeq == Seq((0L, 11L, 2), (0L, 12L, 1), (10L, 1L, 2), (10L, 2L, 1)), got.mkString(","))
  }

  test("gramMatrix: exact on known vectors; invariant under repartitioning") {
    val df = Seq(vec(1.0, 2.0), vec(0.5, -1.5)).toDF("embedding")
    val g = Similarity.gramMatrix(df, "embedding")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // XᵀX of [[1,2],[0.5,-1.5]]: G11=1.25, G12=2-0.75=1.25, G22=4+2.25=6.25
    assert(g == Map((1, 1) -> 1.25, (1, 2) -> 1.25, (2, 2) -> 6.25), g)
    val g7 = Similarity.gramMatrix(df.repartition(7), "embedding")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(g7 == g) // integer partials: partition-count independent
  }

  test("hardNegatives: unknown/filtered anchors yield an empty result, not a crash") {
    val rows = Seq((0L, 0, vec(1.0, 0.0)), (1L, 1, vec(0.0, 1.0)))
      .toDF("vec_id", "label", "embedding")
    assert(Similarity.hardNegatives(rows, "vec_id", "embedding", "label",
      Seq(99L), k = 2).count() == 0)
  }

  test("gramMatrix: matches a quantized JVM reference on random vectors") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(40)(Array.fill(6)((rnd.nextDouble() * 2 - 1).toFloat))
    val got = Similarity.gramMatrix(data.toDF("embedding"), "embedding").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // reference uses the SAME quantization Spark's round() computes
    // (BigDecimal.valueOf → HALF_UP), then exact integer sums
    def q(x: Float): Long = java.math.BigDecimal.valueOf(x.toDouble * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val quant = data.map(_.map(q))
    for (i <- 0 until 6; j <- i until 6) {
      val cell = quant.map(v => v(i) * v(j)).sum.toDouble / 1e12
      assert(got((i + 1, j + 1)) == cell, s"($i,$j)")
    }
  }

  test("gramMatrix: upper triangle only, d(d+1)/2 cells, empty partitions fine") {
    val df = (0L until 10L).map(i => Array.fill(8)((i % 3).toFloat)).toDF("embedding")
    val rows = Similarity.gramMatrix(df.repartition(32), "embedding").collect()
    assert(rows.length == 8 * 9 / 2)
    assert(rows.forall(r => r.getInt(0) <= r.getInt(1)))
    // all elements equal per row: every cell is Σ vᵢ² = (0²+1²+2²)·3+0² per pattern
    val expect = (0 until 10).map(i => math.pow((i % 3).toDouble, 2)).sum
    assert(rows.forall(r => math.abs(r.getDouble(2) - expect) < 1e-9))
  }

  test("dimProfile: dead dim flagged, stats exact, repartition-invariant") {
    // dim1 constant 0.5 (dead); dim2 alternates ±1 (mean 0, std 1);
    // dim3 ramps 0.1..0.4
    val vecs = (0 until 4).map { i =>
      (i.toLong, Array(0.5f, if (i % 2 == 0) 1f else -1f, 0.1f * (i + 1)))
    }
    val out = Similarity.dimProfile(vecs.toDF("vec_id", "embedding"), "embedding")
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val d1 = out(0); val d2 = out(1); val d3 = out(2)
    assert(d1.getBoolean(6) && d1.getDouble(2) == 0.5 && d1.getDouble(3) == 0.0)
    assert(d2.getDouble(2) == 0.0 && d2.getDouble(3) == 1.0 && !d2.getBoolean(6))
    assert(d3.getDouble(4) > 0.099 && d3.getDouble(5) < 0.41)
    val p8 = Similarity.dimProfile(
      vecs.toDF("vec_id", "embedding").repartition(8), "embedding").collect()
    assert(p8.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("semanticDedup: duplicate dropped within cluster, survivor keeps lowest id, cross-cluster ignored") {
    // cluster 0: ids 1,2 identical (2 dropped), id 3 orthogonal (kept);
    // cluster 1: id 4 identical to id 1 but in ANOTHER cluster — kept
    val vecs = Seq(
      (1L, 0, Array(1f, 0f, 0f)), (2L, 0, Array(1f, 0f, 0f)),
      (3L, 0, Array(0f, 1f, 0f)), (4L, 1, Array(1f, 0f, 0f)),
      (5L, 1, Array(0.9f, 0.1f, 0f)) // cos(4,5) ≈ 0.9939 ≥ 0.95 → dropped
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false, 5L -> true),
      out.toString)
    // drop rule is "any lower id within τ", not "any surviving lower id":
    // a chain a~b, b~c with a!~c still drops both b and c — unit vectors at
    // 0°, 2°, 4°: cos 2° = 0.99939 ≥ 0.999 (adjacent), cos 4° = 0.99756 < 0.999
    val chain = Seq(
      (1L, 0, Array(1f, 0f)),
      (2L, 0, Array(0.9993908f, 0.0348995f)),
      (3L, 0, Array(0.9975641f, 0.0697565f))
    ).toDF("vec_id", "label", "embedding")
    val ch = Similarity.semanticDedup(chain, "vec_id", "embedding", "label", 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(ch == Map(1L -> false, 2L -> true, 3L -> true), ch.toString)
    // partitioning invariance
    val p = Similarity.semanticDedup(vecs.repartition(7), "vec_id", "embedding", "label", 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(p == out)
  }

  test("quantizationProfile: exactly-representable vector has zero error; known scale; zero vector safe") {
    // v1 = (127, -127, 0): scale 1, every element lands on an int8 code → 0 error
    // v2 = (12.7, 6.35): scale 0.1, q = (127, 64) → err2 = 6.35 - 6.4 = -0.05
    // v3 = all zeros: (0, 0, 0) not NaN
    val vecs = Seq(
      (1L, Array(127f, -127f, 0f)),
      (2L, Array(12.7f, 6.35f)),
      (3L, Array(0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizationProfile(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((1.0, 0.0, 0.0)), out.toString)
    assert(out(3L) == ((0.0, 0.0, 0.0)), out.toString)
    val (s2, mse2, mx2) = out(2L)
    assert(math.abs(s2 - 0.1) < 1e-7, s2.toString) // float 12.7 / 127
    assert(math.abs(mx2 - 0.05) < 1e-6, mx2.toString)
    assert(math.abs(mse2 - (0.05 * 0.05) / 2) < 1e-7, mse2.toString)
    // clamp path: a dim at amax quantizes to ±127 exactly, never beyond
    val big = Seq((1L, Array(100f, -1f))).toDF("vec_id", "embedding")
    val b = Similarity.quantizationProfile(big, "vec_id", "embedding").head()
    assert(b.getDouble(3) < 100.0 / 127 / 2 + 1e-9) // worst error ≤ half a step
    // map-side only: no exchange in the plan before the final sort
    val plan = Similarity.quantizationProfile(vecs, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length <= 2, plan) // only the orderBy's range exchange
  }

  test("knnLabelNoise: planted mislabel flagged, clean clusters pass, majority tie breaks low") {
    // two tight clusters: label 0 near (1,0), label 1 near (0,1); vector 10
    // sits IN cluster 0 but carries label 1 → its 3 NN all vote 0 → flagged
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.99f, 0.01f), 0), (3L, Array(0.98f, 0.02f), 0),
      (10L, Array(0.97f, 0.03f), 1),
      (20L, Array(0f, 1f), 1), (21L, Array(0.01f, 0.99f), 1), (22L, Array(0.02f, 0.98f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelNoise(vecs, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(out(10L) == ((1L, 0L, true)), out.toString)   // the plant is caught
    assert(!out(1L)._3 && !out(20L)._3, out.toString)    // clean rows pass
    // 2-2 vote tie at k=4 breaks to the SMALLEST label (deterministic)
    val tie = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.995f, 0.005f), 0),
      (3L, Array(0.99f, 0.01f), 5), (4L, Array(0.985f, 0.015f), 5),
      (5L, Array(0.98f, 0.02f), 0)
    ).toDF("vec_id", "embedding", "label")
    val t = Similarity.knnLabelNoise(tie, "vec_id", "embedding", "label", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(t(1L) == 0L, t.toString) // 2 votes for 0, 2 for 5 → label 0 wins
  }

  test("kCenterSelect: farthest-point order on a hand grid; equals brute-force greedy; repartition-invariant") {
    // square corners + a center point: greedy from min id walks the spread
    val vecs = Seq(
      (1L, Array(0f, 0f)), (2L, Array(10f, 0f)), (3L, Array(0f, 10f)),
      (4L, Array(10f, 10f)), (5L, Array(5f, 5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(vecs, "vec_id", "embedding", 4)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    // from (0,0): farthest is (10,10) d=200; then (10,0)/(0,10) tie d=100 → id 2; then 3
    assert(out.toSeq == Seq((1, 1L), (2, 4L), (3, 2L), (4, 3L)), out.mkString(","))
    val d2 = Similarity.kCenterSelect(vecs, "vec_id", "embedding", 4)
      .collect().map(r => if (r.isNullAt(2)) -1.0 else r.getDouble(2))
    assert(d2(0) == -1.0 && d2(1) == 200.0 && d2(2) == 100.0 && d2(3) == 100.0)
    val p = Similarity.kCenterSelect(vecs.repartition(8), "vec_id", "embedding", 4)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(p.toSeq == out.toSeq)
  }

  test("labelSilhouette: separated labels score near 1, co-located labels near 0") {
    val sep = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.99f, 0.01f), 0), (3L, Array(0.98f, 0.02f), 0),
      (4L, Array(0f, 1f), 1), (5L, Array(0.01f, 0.99f), 1), (6L, Array(0.02f, 0.98f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelSilhouette(sep, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(0L)._1 == 3L && out(1L)._1 == 3L)
    assert(out(0L)._2 > 0.9 && out(1L)._2 > 0.9, out.toString)
    // swap one cluster-0 point's label to 1: its a/b invert (negative s)
    // and drag label 1's mean well below the clean label 0
    val noisy = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.99f, 0.01f), 0), (3L, Array(0.98f, 0.02f), 0),
      (4L, Array(0f, 1f), 1), (5L, Array(0.01f, 0.99f), 1),
      (6L, Array(0.97f, 0.03f), 1) // sits in cluster 0, labeled 1
    ).toDF("vec_id", "embedding", "label")
    val m = Similarity.labelSilhouette(noisy, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(0L) > 0.8, m.toString)
    assert(m(1L) < 0.5, m.toString) // the stray's negative s pulls the mean
  }

  test("pcaPowerProject: recovers the planted principal direction, sign-canonical, partition-invariant") {
    // points along direction (3,4)/5 in 3-d with tiny orthogonal jitter:
    // PC1 must align with the line; PC2/PC3 carry only the jitter
    val pts = (-10 to 10).map { t =>
      (t + 10L, Array(3f * t, 4f * t, if (t % 2 == 0) 0.01f else -0.01f))
    }.toDF("vec_id", "embedding")
    val iters = 1 // the smallest step count that recovers the line; q223 runs 3
    val out = Similarity.pcaPowerProject(pts, "vec_id", "embedding", k = 3, iters = iters)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // t and pc1 perfectly correlated: components are pivot-normalized (the
    // max-|entry| is +1), so PC1 = (0.75, 1, 0) and pc1(t) = 6.25t under the
    // canonical sign
    (-10 to 10).foreach { t =>
      assert(math.abs(out(t + 10L)._1 - 6.25 * t) < 0.01, s"t=$t -> ${out(t + 10L)}")
      assert(math.abs(out(t + 10L)._2) < 0.02, s"t=$t -> ${out(t + 10L)}") // jitter only
      assert(math.abs(out(t + 10L)._3) < 0.02, s"t=$t -> ${out(t + 10L)}")
    }
    // deterministic under repartition (the integer moment folds are
    // layout-independent)
    val p = Similarity.pcaPowerProject(pts.repartition(7), "vec_id", "embedding",
      k = 2, iters = iters).collect().map(_.toSeq)
    val q = Similarity.pcaPowerProject(pts, "vec_id", "embedding", k = 2, iters = iters)
      .collect().map(_.toSeq)
    assert(p.toSeq == q.toSeq)
  }

  test("pcaPowerProject: degenerate inputs degrade, never crash (the " +
    "ratioMetricDelta contract)") {
    // empty frame: no dimensionality to extract -> empty result, right schema
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = Similarity.pcaPowerProject(empty, "vec_id", "embedding", k = 2)
    assert(e.columns.toSeq == Seq("vec_id", "pc1", "pc2") && e.count() == 0)
    // zero-variance corpus: the pivot matvec value is 0 -> all-zero
    // components, projections read 0.0 (previously NumberFormatException)
    val const = (1L to 5L).map(i => (i, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val c = Similarity.pcaPowerProject(const, "vec_id", "embedding", k = 2).collect()
    assert(c.length == 5 && c.forall(r => r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0))
    // k larger than the intrinsic rank: trailing components degenerate to
    // zero while the leading one still projects (1-d data, k=3)
    val line = (-5 to 5).map(t => (t + 5L, Array(t.toFloat, 2f * t))).toDF("vec_id", "embedding")
    val l = Similarity.pcaPowerProject(line, "vec_id", "embedding", k = 3).collect()
    assert(l.exists(r => math.abs(r.getDouble(1)) > 1.0), "pc1 carries the line")
  }

  test("itemItemCF: cosine from co-occurrence counts, support floor, each pair once") {
    // items: 10 with 4 users, 20 with 3, shared by {1,2,3}; 30 only user 1;
    // duplicate (1,10) events must not inflate counts
    val ev = Seq(
      (1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L),
      (4L, 10L)
    ).toDF("user_id", "item")
    val out = Similarity.itemItemCF(ev, "user_id", "item", minSupport = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // only (10,20) clears support 2: n_both=3, n_10=4, n_20=3
    assert(out.keySet == Set((10L, 20L)), out.toString)
    val (nb, na, nbn, cos) = out((10L, 20L))
    assert(nb == 3L && na == 4L && nbn == 3L)
    assert(cos == BigDecimal(3.0 / math.sqrt(12.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, cos.toString)
    // support 1 admits the rest, still one row per unordered pair
    val all = Similarity.itemItemCF(ev, "user_id", "item", minSupport = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.toSet == Set((10L, 20L), (10L, 30L), (20L, 30L)) && all.forall(p => p._1 < p._2))
  }

  test("mmdTest: same distribution ≈ 0; a shifted population separates; caps respected") {
    import spark.implicits._
    // deterministic "distribution": vector pattern depends on i%7 only,
    // so X (label 0) and Y (label 1) draw the same 7 atoms
    def vec(i: Int, shift: Float): Array[Float] =
      Array.tabulate(8)(d => (i % 7) * 0.1f + d * 0.01f + shift)
    val same = ((0 until 70).map(i => (i.toLong, vec(i, 0f), 0)) ++
                (100 until 170).map(i => (i.toLong, vec(i, 0f), 1)))
      .toDF("vec_id", "embedding", "label")
    val m0 = Similarity.mmdTest(same, "vec_id", "embedding", col("label") === 0, cap = 50)
      .collect()(0)
    assert(m0.getLong(0) == 50 && m0.getLong(1) == 50)
    assert(math.abs(m0.getDouble(2)) < 0.01, m0.toString)
    val shifted = ((0 until 70).map(i => (i.toLong, vec(i, 0f), 0)) ++
                   (100 until 170).map(i => (i.toLong, vec(i, 3f), 1)))
      .toDF("vec_id", "embedding", "label")
    val m1 = Similarity.mmdTest(shifted, "vec_id", "embedding", col("label") === 0, cap = 50)
      .collect()(0)
    assert(m1.getDouble(2) > 0.3, m1.toString)
    assert(m1.getDouble(2) > 10 * math.abs(m0.getDouble(2)))
  }

  test("pqTopK: separated clusters retrieve the query's cluster; ADC ties rank by id") {
    val a = Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
    // seeds 0 (A) and 1 (B); exact duplicate members per cluster
    val rows = Seq(0L -> a, 1L -> b, 2L -> a, 3L -> b, 4L -> a, 5L -> b,
      100L -> a)
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(df, "vec_id", "embedding", Seq(100L),
      kNeighbors = 3, m = 2, kCentroids = 2, iters = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // every A-member codes to the A centroid → identical ADC distance 0,
    // ties resolved by id: 0, 2, 4
    assert(out.map(_._2).toSeq == Seq(0L, 2L, 4L), out.mkString(","))
    assert(out.forall(_._3 == 0.0), "exact-duplicate cluster ⇒ ADC distance 0")
  }

  test("pqTopK: partitioning-invariant and self-excluding") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat / 11f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val one = Similarity.pqTopK(df, "vec_id", "embedding", Seq(10L, 11L), 5)
      .collect().map(_.toSeq).toSeq
    val re = Similarity.pqTopK(df.repartition(7), "vec_id", "embedding", Seq(10L, 11L), 5)
      .collect().map(_.toSeq).toSeq
    assert(one == re, "layout-independent")
    assert(one.forall(r => r(2) != r(0)), "query never returns itself")
  }

  test("pqTopK: tied-distance candidates arriving in DESCENDING id order still keep the smallest ids") {
    // PQ ties are pervasive (k^m codes); the heap's tie order must evict the
    // LARGEST id. A single partition whose duplicates arrive 8,6,4,2,0 fills
    // the k=3 heap with {8,6,4} before the best ids show up — the round-4
    // inverted ordering returned {8,6,2} here.
    val a = Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
    val rows = Seq(8L -> a, 6L -> a, 4L -> a, 2L -> a, 1L -> b, 0L -> a, 100L -> a)
    val df = rows.toDF("vec_id", "embedding").coalesce(1)
    val out = Similarity.pqTopK(df, "vec_id", "embedding", Seq(100L),
      kNeighbors = 3, m = 2, kCentroids = 2, iters = 2)
      .collect().map(_.getLong(2)).toSeq
    assert(out == Seq(0L, 2L, 4L), out.mkString(","))
  }

  test("dbscanClusters: two blobs, one border, one noise — hand geometry") {
    val pts = Seq(
      (1L, 0.00, 0.00), (2L, 0.01, 0.00), (3L, 0.00, 0.01), (4L, 0.01, 0.01),
      (11L, 1.00, 1.00), (12L, 1.01, 1.00), (13L, 1.00, 1.01), (14L, 1.01, 1.01),
      (21L, 0.055, 0.00), // reaches 2 and 4 only -> 3 incl. self < minPts -> border
      (99L, 5.0, 5.0))
      .toDF("id", "x", "y")
    val out = Similarity.dbscanClusters(pts, "id", col("x"), col("y"),
      eps = 0.05, minPts = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    for (i <- Seq(1L, 2L, 3L, 4L)) assert(out(i) == (("core", 1L)), s"$i: ${out(i)}")
    for (i <- Seq(11L, 12L, 13L, 14L)) assert(out(i) == (("core", 11L)), s"$i: ${out(i)}")
    assert(out(21L) == (("border", 1L)), out(21L).toString)
    assert(out(99L) == (("noise", -1L)), out(99L).toString)
  }

  test("dbscanClusters: grid-cell boundaries never lose an eps-pair (cross-cell blob)") {
    // points straddle the cell boundary at multiples of eps
    val pts = Seq((1L, 0.099, 0.0), (2L, 0.101, 0.0), (3L, 0.103, 0.0)).toDF("id", "x", "y")
    val out = Similarity.dbscanClusters(pts, "id", col("x"), col("y"),
      eps = 0.1, minPts = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.values.forall(_ == "core"), s"all three see each other across cells: $out")
  }

  test("truncationFidelity: prefix truncation flips one query's neighbor, keeps the other") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // query A
      (1L, Array(1f, 0f, 0f, 10f)),  // full: far from A (long tail dim); trunc: identical to A
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)))   // query B: nearest is 2 under both views
      .toDF("vec_id", "embedding")
    val out = Similarity.truncationFidelity(vecs, "vec_id", "embedding",
      queryIds = Seq(0L, 3L), dims = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(0L) == ((2L, 1L, 0)), s"truncation flips A's top-1: ${out(0L)}")
    assert(out(3L) == ((2L, 2L, 1)), s"B agrees: ${out(3L)}")
  }

  test("localOutlierFactor: density-relative scores — sparse satellite high, interior ~1, isolated dropped") {
    import spark.implicits._
    // line cluster A(0,0) B(.01,0) C(.02,0); D sits 2-5× sparser at .06;
    // E is beyond the radius from everything → no kNN → dropped
    val pts = Seq(
      (1L, 0.00, 0.0), (2L, 0.01, 0.0), (3L, 0.02, 0.0),
      (4L, 0.06, 0.0), (5L, 1.0, 1.0)
    ).toDF("id", "x", "y")
    val out = Similarity.localOutlierFactor(pts, "id", col("x"), col("y"),
      radius = 0.1, k = 2, topN = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    assert(out.size == 4 && !out.contains(5L), s"isolated point dropped: $out")
    // hand lattice: lrd_B=50, lrd_A=lrd_C≈66.67, lrd_D≈22.22 →
    // LOF_D = ((66.67+50)/2)/22.22 ≈ 2.625, interior ≈ 0.875-1.33
    assert(math.abs(out(4L)._2 - 2.625) < 0.01, s"satellite flagged: ${out(4L)}")
    assert(out(4L)._2 == out.values.map(_._2).max, "satellite is the top outlier")
    assert(math.abs(out(1L)._2 - 0.875) < 0.01 && math.abs(out(2L)._2 - 4.0 / 3) < 0.01,
      s"interior near 1: $out")
    assert(math.abs(out(4L)._1 - 0.05) < 1e-9, s"k-dist of D is its 2nd neighbor: ${out(4L)}")
  }

  test("localOutlierFactor: exact-duplicate stacks drop out of scoring " +
    "instead of dividing by zero (the sf1 replication failure)") {
    import spark.implicits._
    // a stack of 4 IDENTICAL points (every kNN distance 0 ⇒ reach-sum 0 ⇒
    // density undefined) next to a normal 4-point line that must still score
    val pts = (Seq.fill(4)((0.5, 0.5)).zipWithIndex.map { case ((x, y), i) => (i + 1L, x, y) } ++
      Seq((10L, 0.00, 0.0), (11L, 0.01, 0.0), (12L, 0.02, 0.0), (13L, 0.03, 0.0)))
      .toDF("id", "x", "y")
    val out = Similarity.localOutlierFactor(pts, "id", col("x"), col("y"),
      radius = 0.1, k = 2, topN = 10)
      .collect().map(_.getLong(0)).toSet
    assert(out.intersect(Set(1L, 2L, 3L, 4L)).isEmpty,
      s"zero-volume stack is not scoreable: $out")
    assert(out.intersect(Set(10L, 11L, 12L, 13L)).nonEmpty,
      s"the normal cluster still scores: $out")
  }
}
