package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def emb(rows: (Long, Seq[Float], Int)*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding", "label")
  }

  test("dot and cosine on known vectors (codegen'd DotProduct)") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      Similarity.cosine(col("a"), col("a")).as("self")).head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("DotProduct: null element poisons the sum to NULL (HOF parity)") {
    import spark.implicits._
    val df = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
      .toDF("a", "b")
    assert(df.select(Similarity.dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("DotProduct casts float arrays implicitly") {
    val df = emb((1L, Seq(1f, 0f), 0))
    val r = df.select(
      Similarity.dot(col("embedding"), col("embedding"))).head()
    assert(r.getDouble(0) == 1.0)
  }

  test("quantizeInt8: codes integer-valued in [-127,127], cosine error bounded") {
    val fixture = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.quantizeInt8(fixture, "vec_id", "embedding")
    val bounds = q.select(
      max(array_max(transform(col("v"), abs(_)))).as("mx"),
      max(array_max(transform(col("v"), x => abs(x - floor(x))))).as("frac"))
      .head()
    assert(bounds.getDouble(0) <= 127.0)
    assert(bounds.getDouble(1) == 0.0, "codes must be integer-valued")
    // int8 cosine tracks exact cosine: compare on self-joined sample pairs
    val exact = Similarity.withNorm(fixture, "vec_id", "embedding")
    val e1 = exact.select(col("vec_id").as("ia"), col("v").as("va"),
      col("nrm").as("na"))
    val e2 = exact.select(col("vec_id").as("ib"), col("v").as("vb"),
      col("nrm").as("nb"))
    val q1 = q.select(col("vec_id").as("ia"), col("v").as("qa"),
      col("nrm").as("qna"))
    val q2 = q.select(col("vec_id").as("ib"), col("v").as("qb"),
      col("nrm").as("qnb"))
    val err = e1.join(e2, col("ia") < col("ib"))
      .join(q1, "ia").join(q2, "ib")
      .select(max(abs(
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")) -
        Similarity.dot(col("qa"), col("qb")) / (col("qna") * col("qnb"))))
        .as("e"))
      .head().getDouble(0)
    assert(err < 0.02, s"max cosine error $err exceeds int8 bound")
  }

  test("bruteForceTopK ranks by cosine with deterministic tiebreak") {
    val df = emb(
      (0L, Seq(1f, 0f), 0),   // query
      (1L, Seq(1f, 0.1f), 0), // nearest
      (2L, Seq(1f, 1f), 0),
      (3L, Seq(0f, 1f), 0))   // orthogonal
    val out = Similarity.bruteForceTopK(df, "vec_id", "embedding",
      col("vec_id") === 0, k = 2).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L)) // ranks
  }

  test("nearDupPairs thresholds and orders pairs a < b") {
    val df = emb(
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(1f, 0.01f), 0),
      (3L, Seq(0f, 1f), 0))
    val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("ivfTopK assigns clusters by nearest centroid and searches within") {
    // Two clean clusters around the axes; centroids 1 and 4.
    val df = emb(
      (1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0), (3L, Seq(0.8f, 0.2f), 0),
      (4L, Seq(0f, 1f), 1), (5L, Seq(0.1f, 0.9f), 1), (6L, Seq(0.2f, 0.8f), 1))
    val out = Similarity.ivfTopK(df, "vec_id", "embedding",
      col("vec_id") === 1 || col("vec_id") === 4,
      col("vec_id") === 2 || col("vec_id") === 5, k = 5)
    val byQuery = out.collect().groupBy(_.getLong(0))
    // query 2 only sees cluster-1 members {1,3}; query 5 sees {4,6}
    assert(byQuery(2L).map(_.getLong(1)).toSet == Set(1L, 3L))
    assert(byQuery(5L).map(_.getLong(1)).toSet == Set(4L, 6L))
    assert(byQuery(2L).map(_.getLong(2)).toSet == Set(1L)) // cluster_id
    assert(byQuery(5L).map(_.getLong(2)).toSet == Set(4L))
  }

  test("ivf with an empty centroid set returns no results, not a sentinel") {
    val df = emb((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0))
    val out = Similarity.ivfTopK(df, "vec_id", "embedding",
      col("vec_id") < 0, col("vec_id") === 1, k = 5)
    assert(out.isEmpty)
  }

  test("ivf assignment ties break to the lowest cent_id") {
    val df = emb(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0), // identical centroids
      (3L, Seq(1f, 0f), 0))
    val out = Similarity.ivfTopK(df, "vec_id", "embedding",
      col("vec_id") <= 2, col("vec_id") === 3, k = 5)
    assert(out.collect().map(_.getLong(2)).toSet == Set(1L))
  }

  test("ivfTopKProbe: second probe reaches across the cluster boundary") {
    // Query 7 sits between the clusters (assigned to cluster 1); its true
    // nearest neighbor 5 lives in cluster 4. Single-probe misses it,
    // nprobe=2 finds it.
    val df = emb(
      (1L, Seq(1f, 0f), 0), (2L, Seq(0.95f, 0.05f), 0),
      (4L, Seq(0f, 1f), 1), (5L, Seq(0.45f, 0.55f), 1),
      (7L, Seq(0.55f, 0.45f), 0))
    def neighbors(nprobe: Int) =
      Similarity.ivfTopKProbe(df, "vec_id", "embedding",
        col("vec_id") === 1 || col("vec_id") === 4, col("vec_id") === 7,
        k = 5, nprobe = nprobe)
        .collect().map(_.getLong(1)).toSet
    assert(!neighbors(1).contains(5L))
    assert(neighbors(2).contains(5L))
    // nprobe=1 matches the single-probe implementation exactly
    val single = Similarity.ivfTopK(df, "vec_id", "embedding",
      col("vec_id") === 1 || col("vec_id") === 4, col("vec_id") === 7, k = 5)
      .collect().map(_.toSeq).toSet
    val probe1 = Similarity.ivfTopKProbe(df, "vec_id", "embedding",
      col("vec_id") === 1 || col("vec_id") === 4, col("vec_id") === 7,
      k = 5, nprobe = 1).collect().map(_.toSeq).toSet
    assert(single == probe1)
    // nprobe beyond the centroid count degenerates to searching everything
    assert(neighbors(9) == Set(1L, 2L, 4L, 5L))
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKProbe(df, "vec_id", "embedding", col("vec_id") === 1,
        col("vec_id") === 7, k = 5, nprobe = 0)
    }
  }

  test("ivfPqTopK confines candidates to the query's cluster and ranks " +
      "by ADC over reconstructions") {
    // 4-dim vectors, m=2 subspaces of ds=2. Two clean clusters around
    // orthogonal axes; PQ codebooks seeded from ids {1,4} (one per
    // cluster), so reconstructions snap to the seed sub-vectors but
    // ranking and confinement must still hold.
    val df = emb(
      (1L, Seq(1f, 0f, 0f, 0f), 0), (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0.8f, 0.2f, 0f, 0f), 0),
      (4L, Seq(0f, 0f, 1f, 0f), 1), (5L, Seq(0f, 0f, 0.9f, 0.1f), 1),
      (6L, Seq(0f, 0f, 0.8f, 0.2f), 1))
    val out = Similarity.ivfPqTopK(df, "vec_id", "embedding",
      centroidPred = col("vec_id") === 1 || col("vec_id") === 4,
      pqCentroidPred = col("vec_id") === 1 || col("vec_id") === 4,
      m = 2, ds = 2,
      queryPred = col("vec_id") === 2 || col("vec_id") === 5, k = 5)
    val byQuery = out.collect().groupBy(_.getLong(0))
    // Confinement: query 2 never sees cluster-4 members and vice versa.
    assert(byQuery(2L).map(_.getLong(1)).toSet == Set(1L, 3L))
    assert(byQuery(5L).map(_.getLong(1)).toSet == Set(4L, 6L))
    assert(byQuery(2L).map(_.getLong(2)).toSet == Set(1L))
    assert(byQuery(5L).map(_.getLong(2)).toSet == Set(4L))
    // Ranks are 1..n dense per query (ADC sims are well-defined doubles).
    assert(byQuery(2L).map(_.getLong(4)).sorted.toSeq == Seq(1L, 2L))
  }

  test("randomProjection: deterministic sign matrix, self-similarity 1, " +
      "and a projected identical pair stays identical") {
    val df = emb(
      (1L, Seq(1f, 2f, 3f, 4f), 0),
      (2L, Seq(1f, 2f, 3f, 4f), 0), // exact duplicate of 1
      (3L, Seq(-4f, 3f, -2f, 1f), 1))
    val p1 = Similarity.randomProjection(df, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val p2 = Similarity.randomProjection(df, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(p1 === p2) // the hash matrix needs no seed and never drifts
    assert(p1.size == 12) // 3 vectors x 4 out dims
    // identical inputs project identically
    (0L until 4L).foreach(j => assert(p1((1L, j)) == p1((2L, j))))
    // top-k in projected space: the duplicate pair ranks first with
    // sim 1.0 (integer coordinates are equal, so cosine is exactly 1)
    val top = Similarity.longFormatTopK(
      Similarity.randomProjection(df, "vec_id", "embedding", 4),
      "vec_id", col("vec_id") === 1L, k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(top.head == ((2L, 1.0, 1L)))
  }

  test("semanticDedupReport drops higher ids within a cluster only") {
    // Centroids on orthogonal axes. Cluster 0: ids 2, 3 are near-dups of
    // the centroid vector 0 (cosine ≈ .995, .999) — the policy keeps the
    // lowest id, drops 2 and 3. Cluster 1: id 4 sits at cosine ≈ .87 from
    // 1, under the .9 threshold — kept. Ids 5 and 6 are near-identical
    // (cosine ≈ .999) but straddle the cell boundary (5 → cluster 0,
    // 6 → cluster 1), so that dup pair is MISSED by design — the
    // published SemDeDup recall tradeoff the scaladoc documents.
    val df = emb(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(0f, 1f, 0f), 0),
      (2L, Seq(0.99f, 0.1f, 0f), 0),
      (3L, Seq(0.98f, 0.05f, 0f), 0),
      (4L, Seq(0f, 0.9f, 0.5f), 0),
      (5L, Seq(0.72f, 0.69f, 0f), 0),
      (6L, Seq(0.69f, 0.72f, 0f), 0))
    val report = Similarity.semanticDedupReport(df, "vec_id", "embedding",
        col("vec_id") < 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(report(0L) == ((4L, 2L, 2L))) // 0, 5 kept; 2, 3 dropped
    assert(report(1L) == ((3L, 0L, 3L))) // 1, 4, 6 kept (6's dup is in cell 0)
    // members partition the corpus: every vector counted exactly once
    assert(report.values.map(_._1).sum == 7L)
  }

  test("kMeansTrain: misassignments from a bad seed migrate across " +
      "rounds to the true group means") {
    // Two cosine-direction groups: x-ish {0, 1, 2} and y-ish {3, 4, 5},
    // but BOTH seeds sit in the x group. Round 1 splits on direction
    // anyway (seed 1 = (0.98, 0.02) is nearer every y vector than the
    // pure-x seed 0), which misassigns vector 1 to its own singleton-ish
    // cluster; round 2's refined centroid 1 has moved to the y mass, so
    // vector 1 migrates home to cluster 0 and the loop settles at the
    // per-group coordinate means — the behavior a single step cannot
    // produce (q_sim_kmeans_step leaves vector 1 misassigned).
    val df = emb(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0.98f, 0.02f), 0),
      (2L, Seq(0.99f, 0.01f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.02f, 0.98f), 0),
      (5L, Seq(0.01f, 0.99f), 0))
    val got = Similarity.kMeansTrain(
      Similarity.withNorm(df, "vec_id", "embedding"),
      "vec_id", col("vec_id") < 2, rounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    def mean6(xs: Seq[Double]): Double =
      java.math.BigDecimal.valueOf(xs.sum / xs.size)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val xs = Seq(1.0, 0.98f.toDouble, 0.99f.toDouble)
    val ys = Seq(0.0, 0.02f.toDouble, 0.01f.toDouble)
    assert(got((0L, 0L)) == ((mean6(xs), 3L)))
    assert(got((0L, 1L)) == ((mean6(ys), 3L)))
    assert(got((1L, 0L)) == ((mean6(ys), 3L)))
    assert(got((1L, 1L)) == ((mean6(xs), 3L)))
    // counts partition the corpus
    assert(got.collect { case ((_, 0L), (_, n)) => n }.sum == 6L)
  }

  test("kMeansTrain: a cluster that loses every member drops out") {
    // Seed 1's vector is IDENTICAL to seed 0's, so round 1's exact
    // cosine ties all resolve to the lower cent_id — cluster 1 receives
    // zero members, its refinement row set is empty, and it vanishes
    // from every later round and the output (both engines' inner joins
    // agree on this drop policy).
    val df = emb(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0),
      (2L, Seq(0.9f, 0.1f), 0))
    val got = Similarity.kMeansTrain(
      Similarity.withNorm(df, "vec_id", "embedding"),
      "vec_id", col("vec_id") < 2, rounds = 2)
      .select("cluster_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L))
  }

  /** Rows with nullable ids and nullable vector elements. */
  private def embNullable(rows: (java.lang.Long, Seq[java.lang.Float])*) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }),
      schema)
  }

  /** Driver-side farthest-first traversal with the operator's arithmetic:
    * sequential-fold dot products, round(1 − cos, 6) half-up, min over
    * the selected set, then the farthest candidate, smallest id on ties.
    * Returns (sel_order, id, dist).
    */
  private def farthestFirst(pts: Seq[(Long, Seq[Float])], k: Int)
      : Seq[(Long, Long, Double)] = {
    val vs = pts.map { case (i, v) => i -> v.map(_.toDouble) }.toMap
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def dist(a: Seq[Double], b: Seq[Double]) =
      BigDecimal(1.0 - dot(a, b) / (math.sqrt(dot(a, a)) *
        math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var out = Vector((1L, vs.keys.min, 0.0))
    while (out.size < k && out.size < vs.size) {
      val sel = out.map(_._2)
      val (id, d) = vs.keys.filterNot(sel.contains).toSeq
        .map(i => i -> sel.map(s => dist(vs(i), vs(s))).min)
        .minBy { case (i, d) => (-d, i) }
      out :+= ((out.size + 1L, id, d))
    }
    out
  }

  private def coreset(df: org.apache.spark.sql.DataFrame, k: Int) =
    Similarity.kCenterCoreset(df, "vec_id", "embedding", k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("kCenterCoreset matches a brute-force farthest-first traversal") {
    // 40 seeded pseudo-random points on a 4-d integer grid, ids shuffled.
    val rnd = new scala.util.Random(7)
    val pts = (0 until 40).map { i =>
      (100L + (i * 37) % 40, Seq.fill(4)((rnd.nextInt(21) - 10).toFloat))
    }.filter(_._2.exists(_ != 0f))
    val df = emb(pts.map { case (i, v) => (i, v, 0) }: _*)
    assert(coreset(df, 12) == farthestFirst(pts, 12))
  }

  test("kCenterCoreset breaks distance ties by id and stops when the " +
      "corpus is exhausted") {
    // Seed 1; 5 and 3 are both at distance 1 from it, so 3 goes first.
    val pts = Seq((1L, Seq(1f, 0f)), (5L, Seq(0f, 1f)),
      (3L, Seq(0f, -1f)), (7L, Seq(1f, 1f)))
    val df = emb(pts.map { case (i, v) => (i, v, 0) }: _*)
    val got = coreset(df, 9)
    assert(got.map(_._2) == Seq(1L, 3L, 5L, 7L))
    assert(got == farthestFirst(pts, 9))
  }

  test("kCenterCoreset never selects a null id, and a null element " +
      "keeps a vector's distance null") {
    val f = (x: Float) => java.lang.Float.valueOf(x)
    val df = embNullable(
      (1L, Seq(f(1f), f(0f))), (3L, Seq(f(0f), f(-1f))),
      (5L, Seq(f(0f), f(1f))), (7L, Seq(f(1f), f(1f))),
      (null, Seq(f(-1f), f(0f))), // the farthest point, but no id
      (2L, Seq(null, f(-1f))))   // null distance: sorts after every other
    val clean = Seq((1L, Seq(1f, 0f)), (3L, Seq(0f, -1f)),
      (5L, Seq(0f, 1f)), (7L, Seq(1f, 1f)))
    assert(coreset(df, 4) == farthestFirst(clean, 4))
  }

  test("kCenterCoreset rejects duplicate ids") {
    val df = emb((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0),
      (2L, Seq(1f, 1f), 0))
    val e = intercept[IllegalArgumentException](coreset(df, 3))
    assert(e.getMessage.contains("appears 2 times"))
  }
}
