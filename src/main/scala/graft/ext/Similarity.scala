package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star extension): exact cosine via
  * array higher-order functions, brute-force top-k as the correctness
  * baseline, and an IVF (inverted-file) variant as the scale path.
  *
  * All arithmetic is forced to DOUBLE before multiplying — float32 inputs
  * stay bit-exact when widened, so Spark and the oracle compute identical
  * products; only summation order can differ, absorbed by round(…, 6).
  *
  * Scale design: brute force is O(queries × corpus) — fine for a query
  * batch against a broadcast corpus shard, quadratic and banned for
  * corpus × corpus. IVF assigns every vector to its nearest of k centroids
  * (one broadcast join), then searches only the query's cluster — the
  * shuffle-free pruning that makes ANN feasible at 100 TB. Norms are
  * computed ONCE per row (projection), never per pair.
  */
object Similarity {

  /** Element-wise double-cast of a float array column. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product (left-to-right, deterministic). Backed by
    * a codegen'd native expression ([[graft.functions.DotProduct]]) — the
    * HOF composition `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` is
    * semantically identical but interpreted, which dominates all-pairs
    * scans.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vecDot(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Corpus with precomputed double vector + norm (compute once, reuse). */
  def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))

  /** Per-vector symmetric int8 scalar quantization, shaped like [[withNorm]]
    * (idCol, v, nrm — plus the dequantization `qscale`) so every downstream
    * similarity op composes unchanged: cosine is scale-invariant, so
    * quantized cosine is just cosine of the int-valued vectors.
    *
    * This is the 100 TB memory lever: int8 cuts the vector footprint 4×
    * (storage, shuffle, and broadcast all shrink with it) at a bounded
    * cosine error. Rounding is `floor(x/scale + 0.5)` — explicit, so any
    * engine reproduces the exact codes (library `round` half-even vs
    * half-up varies by engine); |code| ≤ 127 by construction since scale =
    * max|x|/127. The scale is projected ONCE before the per-element
    * transform (computing it inside the lambda would re-evaluate the
    * array_max per element).
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String)
      : DataFrame =
    emb.select(col(idCol), asDouble(col(vecCol)).as("dv"))
      .withColumn("qscale",
        greatest(array_max(transform(col("dv"), abs(_))), lit(1e-12)) / 127.0)
      .select(col(idCol),
        // floor() yields LONG; cast back so `v` stays array<double> like
        // withNorm's (the codes are integer-VALUED, not integer-typed —
        // downstream dot/norm machinery composes unchanged)
        transform(col("dv"),
          x => floor(x / col("qscale") + lit(0.5)).cast("double")).as("v"),
        col("qscale"))
      .withColumn("nrm", l2norm(col("v")))

  /** Brute-force exact top-k: each query (small side, broadcast) against
    * the whole corpus. Returns (query_id, neighbor_id, sim, rank).
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame =
    bruteForceTopKFrom(withNorm(emb, idCol, vecCol), idCol, queryPred, k)

  /** Distinct powers of two, so + IS bitwise OR; pow stays exact in a
    * double through 2^31, converted back to long before the fold.
    */
  private def packBits(vslice: Column, width: Int): Column =
    aggregate(
      zip_with(vslice, sequence(lit(0), lit(width - 1)),
        (x, j) => when(x > 0, pow(lit(2.0), j).cast("long"))
          .otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)

  /** 1-bit (sign) quantization: each vector collapses to TWO 32-bit
    * words (bit j of the lo/hi word set iff v[j] > 0 / v[32+j] > 0) —
    * the coarsest rung of the quantization ladder (float32 → int8 → PQ
    * → sign) and its biggest memory lever: 32× below float32, so the
    * whole signature table broadcasts where even the int8 corpus must
    * shuffle. Hamming distance between signatures estimates angular
    * distance (Charikar 2002's hyperplane identity,
    * P[bit differs] = θ/π — here with the coordinate axes as the
    * hyperplanes, i.e. the signs ARE the hyperplane codes); production
    * re-ranks the Hamming candidates by exact cosine downstream. One
    * codegen'd HOF per row, no UDF, no shuffle.
    */
  def signSignature(emb: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    // 64-dim contract ENFORCED per row, not assumed: the packer emits
    // exactly two 32-bit words, so a wider vector would silently truncate
    // and a narrower one zero-pad (zip_with nulls fall to otherwise(0)) —
    // both diverging from the full-length Hamming the oracle computes and
    // from the Charikar estimate the Scaladoc cites. A non-conforming
    // corpus fails loudly with its observed dimension instead.
    // NULL vectors pass through as NULL signatures (the engine-wide
    // null-tolerance contract EmptyInputSpec pins); only a PRESENT
    // vector of the wrong dimension fails.
    val raw = asDouble(col(vecCol))
    val v = when(raw.isNull, raw)
      .when(size(raw) === 64, raw)
      .otherwise(raise_error(concat(
        lit("signSignature requires 64-dim vectors, got dim="),
        size(raw).cast("string"))))
    emb.select(col(idCol),
      packBits(slice(v, 1, 32), 32).as("sig_lo"),
      packBits(slice(v, 33, 32), 32).as("sig_hi"))
  }

  /** Top-k by Hamming distance over [[signSignature]] words: the query
    * side broadcasts (signatures are 16 bytes/row — it broadcasts at ANY
    * corpus scale), each corpus row pays two XOR+popcount ALU ops, and
    * the per-query rank window partitions by query. Ties break
    * (hamming asc, neighbor_id asc) so the k-set is deterministic.
    * Returns (query_id, neighbor_id, hamming, rank).
    */
  def binaryHammingTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val sigs = signSignature(emb, idCol, vecCol).localCheckpoint()
    val q = sigs.filter(queryPred)
      .select(col(idCol).as("query_id"), col("sig_lo").as("qlo"),
        col("sig_hi").as("qhi"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    sigs.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (bit_count(col("sig_lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("sig_hi").bitwiseXOR(col("qhi"))))
          .cast("long").as("hamming"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[bruteForceTopK]] over an ALREADY-normalized corpus (idCol, v, nrm) —
    * lets an evaluation like recall@k share one materialized norm projection
    * between the brute and index sides instead of paying it twice.
    */
  def bruteForceTopKFrom(corpus: DataFrame, idCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val queries = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val sims = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** All near-duplicate pairs (a < b) with cosine ≥ threshold. Quadratic —
    * correctness baseline; production path is LSH/IVF candidate generation
    * plus this as the verify step on candidates only.
    */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val c = withNorm(emb, idCol, vecCol)
    val a = c.select(col(idCol).as("vec_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = c.select(col(idCol).as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid
    * (broadcast argmax, zero shuffle), find within-cluster pairs with
    * cosine ≥ threshold, drop the higher id of every such pair (the
    * deterministic one-survivor policy), and report per cluster how many
    * members were kept vs dropped.
    *
    * The scale argument is the whole point of the clustering: the
    * quadratic pair join is CONFINED to a cluster cell — pair work is
    * Σ per-cluster |cell|², and the centroid count is the dial that keeps
    * cells bounded as the corpus grows. A cross-cluster near-dup is
    * missed BY DESIGN (that recall loss is the published tradeoff; more
    * centroids = cheaper and blinder, fewer = costlier and sharper). The
    * pair join shuffles each cluster's rows once on cluster_id; the
    * drop-set anti side is a distinct over pair survivors, tiny by
    * construction.
    */
  def semanticDedupReport(emb: DataFrame, idCol: String, vecCol: String,
      centroidPred: Column, threshold: Double): DataFrame = {
    // feeds both self-join sides AND the membership count
    val asgn = assignClusters(emb, idCol, vecCol, centroidPred)
      .localCheckpoint()
    val a = asgn.select(col("cluster_id"), col(idCol).as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = asgn.select(col("cluster_id"), col(idCol).as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    // The report needs only per-cluster COUNTS, so the drop set never
    // joins back to the corpus: at scale `dropped` is a constant fraction
    // of the corpus (a doc-level join-back — let alone a broadcast of
    // it — would grow without bound). Both aggregates are cluster-keyed;
    // the final join is |clusters| × 2 columns.
    val dropped = a.join(b, "cluster_id")
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .select(col("cluster_id"), col("vec_b")).distinct()
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_dropped"))
    asgn.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      .join(dropped, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L)))
          .as("n_kept"))
  }

  /** Random-hyperplane (sign) LSH for cosine near-dups: `planes`
    * deterministic ±1 hyperplanes (sign = md5 parity of "plane:dim", so any
    * engine can regenerate them), signature bit j = sign(v · h_j), banded
    * into `bands` blocks of `planes/bands` bits; candidate pairs share ≥1
    * block and are then verified with EXACT cosine ≥ threshold.
    *
    * This is the scale path the all-pairs [[nearDupPairs]] baseline exists
    * to verify. The two dials ARE the scale story (P[bit agree] =
    * 1 − θ/π): bits-per-band sets the random-collision floor — expected
    * floor candidates ≈ bands × Σ_pairs p^bits, so bits must grow with
    * log₂(n) to hold the floor near-linear; bands set recall at the target
    * threshold (recall = 1 − (1 − p^bits)^bands). The defaults (16 planes,
    * 4 bands of 4 bits) are a small-fixture demo dial; a 100 TB near-dup
    * sweep (threshold ≥ .95, p ≥ .9) wants ~16 bits × enough bands for the
    * recall target — the ScaleBench ledger measures both dials
    * side-by-side. Signature computation is `planes` codegen'd dot
    * products against literal arrays — one projection, no shuffle.
    */
  def cosineLshPairs(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, planes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(bands > 0 && planes % bands == 0,
      s"planes ($planes) must split evenly into bands ($bands)")
    val corpus = withNorm(emb, idCol, vecCol)
    val signs: IndexedSeq[Seq[Double]] = (0 until planes).map { j =>
      (0 until dim).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$i".getBytes("UTF-8"))
        if (((d(0) & 0xFF) >> 4) >= 8) 1.0 else -1.0
      }
    }
    val sigCol = concat(signs.map(s =>
      when(dot(col("v"), typedlit(s)) > 0, "1").otherwise("0")): _*)
    val bandWidth = planes / bands
    val blocks = corpus.withColumn("sig", sigCol)
      .select(col(idCol), col("v"), col("nrm"),
        posexplode(array((0 until bands).map(j =>
          substring(col("sig"), j * bandWidth + 1, bandWidth)): _*))
          .as(Seq("block_idx", "block")))
    val a = blocks.select(col(idCol).as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("block_idx"), col("block"))
    val b = blocks.select(col(idCol).as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("block_idx").as("bi"), col("block").as("bb"))
    a.join(b, a("block_idx") === b("bi") && a("block") === b("bb") &&
        a("vec_a") < b("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Nearest-centroid assignment as a map-side argmax: the centroid set
    * collapses to ONE row holding a sorted array of (cent_id, vector, norm)
    * structs, broadcast to every partition, and each corpus vector folds
    * over it picking the best-cosine centroid (ties → lowest cent_id, since
    * the array is sorted and only a strictly-greater sim displaces the
    * accumulator). Zero shuffle, no row expansion — the corpus is never
    * replicated k× the way a crossJoin+window assignment would be.
    * Returns (idCol, v, nrm, cluster_id).
    */
  def assignClusters(emb: DataFrame, idCol: String, vecCol: String,
      centroidPred: Column): DataFrame =
    assignClustersFrom(withNorm(emb, idCol, vecCol), idCol, centroidPred)

  /** [[assignClusters]] over an ALREADY-normalized corpus (idCol, v, nrm). */
  def assignClustersFrom(corpus: DataFrame, idCol: String,
      centroidPred: Column): DataFrame =
    assignClustersAgainst(corpus, idCol, corpus.filter(centroidPred))

  /** [[assignClustersFrom]] with the centroid rows coming from a SEPARATE
    * normalized table (idCol, v, nrm) — the streaming-ingest shape, where
    * arriving micro-batches are assigned against a fixed trained codebook
    * that is not part of the batch.
    */
  def assignClustersAgainst(corpus: DataFrame, idCol: String,
      centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(
        struct(col(idCol).as("cent_id"), col("v").as("cv"),
          col("nrm").as("cn")))).as("cents"))
    // NULL/NaN similarity (zero-norm centroid or corpus vector, truncated
    // embedding) maps to -Infinity so a degenerate centroid can lose the
    // argmax instead of poisoning the accumulator: `csim > NULL/NaN-acc`
    // is never true, which would freeze assignment on the seed centroid.
    def csimOf(c: Column): Column = coalesce(
      nanvl(round(
        dot(col("v"), c.getField("cv")) / (col("nrm") * c.getField("cn")), 6),
        lit(null).cast("double")),
      lit(Double.NegativeInfinity))
    // Seed the fold from the FIRST (lowest-id) centroid, so the
    // accumulator's types follow the id column (a literal seed would pin
    // cent_id to bigint) and an EMPTY centroid set folds to a null seed →
    // null cluster_id → the row is filtered out, matching "no clusters, no
    // results" instead of inventing a sentinel cluster.
    val first = try_element_at(col("cents"), lit(1))
    val best = aggregate(
      col("cents"),
      struct(first.getField("cent_id").as("cent_id"),
        csimOf(first).as("csim")),
      (acc, c) => {
        val csim = csimOf(c)
        when(csim > acc.getField("csim"),
          struct(c.getField("cent_id").as("cent_id"), csim.as("csim")))
          .otherwise(acc)
      })
    corpus.crossJoin(broadcast(centArr))
      .select(col(idCol), col("v"), col("nrm"),
        best.getField("cent_id").as("cluster_id"))
      .filter(col("cluster_id").isNotNull)
  }

  /** One k-means refinement step for IVF index building: element-wise mean
    * of each cluster's members, in LONG format (cluster_id, dim_idx, mean,
    * n_members) — posexplode is map-side, the mean is one hash-agg keyed by
    * (cluster, dim), and no vector ever recollects on the driver. Iterate
    * assignment → refinement to converge real centroids from seed rows.
    */
  def centroidRefinement(assigned: DataFrame, clusterCol: String,
      vecCol: String): DataFrame =
    assigned
      .select(col(clusterCol), posexplode(col(vecCol)).as(Seq("dim_idx", "x")))
      .groupBy(col(clusterCol), col("dim_idx").cast("long").as("dim_idx"))
      .agg(round(avg(col("x")), 6).as("mean"),
        count(lit(1)).as("n_members"))

  /** Lloyd's k-means TRAINING loop (Lloyd 1982; the codebook trainer the
    * IVF/PQ family documents as its production path): `rounds` iterations
    * of assign ([[assignClustersAgainst]] — broadcast argmax, zero
    * shuffle) then refine ([[centroidRefinement]] — per-(cluster, dim)
    * rounded mean, one hash-agg), centroids rebuilt as vectors from the
    * long-format means (array_sort of (dim, mean) structs — never a
    * driver collect; the k×D centroid table is broadcast-sized by
    * definition). Returns the FINAL refinement table (cluster_id,
    * dim_idx, mean, n_members).
    *
    * Determinism: means are round-6 (absorbing float-sum order, the
    * q_sim_kmeans_step posture), assignments argmax round-6 cosines with
    * the lowest-id tiebreak — so every round's state is bit-identical
    * across engines and partitionings, and the unrolled SQL twin matches
    * exactly. A cluster that loses all members drops out (both engines'
    * inner joins agree); cluster identity is the seed row's id
    * throughout. Per round: O(n·k) flops + one corpus hash-agg — the
    * same cost envelope as one IVF build.
    */
  def kMeansTrain(corpus: DataFrame, idCol: String, centroidPred: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cent = corpus.filter(centroidPred)
      .select(col(idCol), col("v"), col("nrm")).localCheckpoint()
    var refined: DataFrame = null
    for (_ <- 1 to rounds) {
      val asgn = assignClustersAgainst(corpus, idCol, cent)
      refined = centroidRefinement(asgn, "cluster_id", "v")
        .localCheckpoint()
      cent = refined
        .groupBy(col("cluster_id"))
        .agg(array_sort(collect_list(struct(col("dim_idx"), col("mean"))))
          .as("dm"))
        .select(col("cluster_id").as(idCol),
          transform(col("dm"), x => x.getField("mean")).as("v"))
        .withColumn("nrm", l2norm(col("v")))
        .localCheckpoint()
    }
    refined
  }

  /** IVF: assign every vector to its nearest centroid
    * ([[assignClusters]]), search only within the query's cluster. Returns
    * (query_id, neighbor_id, cluster_id, sim, rank).
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      centroidPred: Column, queryPred: Column, k: Int): DataFrame =
    ivfTopKFrom(assignClusters(emb, idCol, vecCol, centroidPred), idCol,
      queryPred, k)

  /** [[ivfTopK]] over an ALREADY-assigned corpus (idCol, v, nrm,
    * cluster_id) — pairs with [[assignClustersFrom]] so callers can build
    * the assignment from a shared normalized corpus.
    */
  def ivfTopKFrom(assigned: DataFrame, idCol: String, queryPred: Column,
      k: Int): DataFrame = {
    val queries = assigned.filter(queryPred)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cluster_id").as("qc"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned.join(broadcast(queries),
        col("cluster_id") === col("qc") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("cluster_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Multi-probe IVF: each query searches its `nprobe` nearest clusters —
    * the standard recall lever for queries near a cluster boundary. The
    * CORPUS assignment is unchanged (single cluster via the zero-shuffle
    * argmax); only the few query vectors fan out, ranked against the
    * broadcast centroid table, so probe-join input grows by
    * |queries|×nprobe, never with corpus size. Each corpus vector lives in
    * exactly one cluster, so no cross-probe dedup is needed. Returns
    * (query_id, neighbor_id, cluster_id, sim, rank).
    */
  def ivfTopKProbe(emb: DataFrame, idCol: String, vecCol: String,
      centroidPred: Column, queryPred: Column, k: Int,
      nprobe: Int): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    // `assigned` already carries (id, v, nrm) — deriving centroids and
    // queries from it avoids a second corpus scan + norm pass.
    val assigned = assignClusters(emb, idCol, vecCol, centroidPred)
    val cents = assigned.filter(centroidPred)
      .select(col(idCol).as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    // Probe ranking on the ROUNDED cosine (same 6 decimals as everywhere
    // else) with cent_id tiebreak — deterministic and oracle-reproducible.
    // NaN/null cosine (zero-norm centroid or query) maps to -Infinity like
    // assignClusters' accumulator: NaN sorts FIRST under desc, so an
    // unguarded degenerate centroid would win probe slots for a cluster
    // assignment gives zero members.
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cent_id").asc)
    val probes = assigned.filter(queryPred)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", coalesce(
        nanvl(round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6),
          lit(null).cast("double")),
        lit(Double.NegativeInfinity)))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"),
        col("cent_id").as("qc"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes),
        col("cluster_id") === col("qc") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("cluster_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Product quantization codes (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): split each D-dim vector into `m`
    * contiguous subspaces of `ds` dims, encode every sub-vector as the id
    * of its nearest (L2, lowest-id tiebreak) codebook centroid for that
    * subspace. Codebooks here are seeded from `centroidPred` rows' own
    * sub-vectors (deterministic, oracle-reproducible); production trains
    * them with per-subspace k-means ([[centroidRefinement]] iterated on
    * the sub-vector table, same machinery).
    *
    * This is the published 16-32× memory lever beyond int8's 4×: m bytes
    * per vector (m=8..16, 256 centroids) instead of D floats, and it
    * composes with IVF (encode residuals per cluster) exactly because the
    * code table is just another (id, j, code) relation. The argmin is the
    * same broadcast-fold shape as [[assignClustersFrom]]: zero shuffle to
    * encode, O(corpus × m) rows out, the codebook (m × k centroids)
    * broadcast — never the corpus.
    *
    * Input must be [[withNorm]]-shaped (idCol, v, nrm); `v`'s length must
    * equal m × ds. Returns (idCol, j, code, rsv) — subspace index, chosen
    * centroid id, and that centroid's sub-vector (the reconstruction the
    * ADC distance reads).
    */
  def pqCodes(corpus: DataFrame, idCol: String, m: Int, ds: Int,
      centroidPred: Column): DataFrame = {
    val subs = corpus.select(col(idCol),
      posexplode(array((0 until m).map(j =>
        slice(col("v"), j * ds + 1, ds)): _*)).as(Seq("j", "sv")))
      .withColumn("j", col("j").cast("long"))
    val cb = subs.filter(centroidPred)
      .groupBy(col("j"))
      .agg(array_sort(collect_list(struct(col(idCol).as("cent_id"),
        col("sv").as("cv")))).as("cents"))
    // Squared L2 as the same sequential left fold both engines compute —
    // bit-identical doubles, so the strict-< argmin scanning the
    // cent_id-sorted codebook equals the oracle's ORDER BY d2, cent_id.
    def d2Of(c: Column): Column =
      aggregate(zip_with(col("sv"), c.getField("cv"),
        (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
    val first = try_element_at(col("cents"), lit(1))
    val best = aggregate(
      col("cents"),
      struct(first.getField("cent_id").as("code"),
        first.getField("cv").as("rsv"), d2Of(first).as("d2")),
      (acc, c) => {
        val d2 = d2Of(c)
        when(d2 < acc.getField("d2"),
          struct(c.getField("cent_id").as("code"),
            c.getField("cv").as("rsv"), d2.as("d2")))
          .otherwise(acc)
      })
    subs.join(broadcast(cb), Seq("j"))
      .select(col(idCol), col("j"), best.getField("code").as("code"),
        best.getField("rsv").as("rsv"))
  }

  /** Reassemble the PQ reconstruction (concat of coded centroids in
    * subspace order) with its norm — [[withNorm]]-shaped, so the ADC
    * top-k is just the brute-force machinery over the reconstructed
    * corpus with FULL-precision queries: dot(recon, q) is exactly the
    * sum of per-subspace table lookups the PQ paper's ADC computes.
    */
  def pqReconstruct(codes: DataFrame, idCol: String): DataFrame =
    codes.groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("j"), col("rsv")))),
        x => x.getField("rsv"))).as("v"))
      .withColumn("nrm", l2norm(col("v")))

  /** IVF+PQ (the IVFADC composition, Jégou et al. 2011 §V): coarse
    * quantizer confines the search to the query's cluster, PQ codes stand
    * in for the cluster's vectors, queries stay full-precision (ADC). This
    * is THE published billion-scale layout — candidate volume bounded by
    * the cluster (IVF's lever) AND per-candidate memory bounded by m codes
    * (PQ's lever); both index relations ((id, cluster_id) and
    * (id, j, code)) build with zero corpus shuffle, and the search is one
    * broadcast-queries join against the reconstructed cluster members.
    * Classic IVFADC encodes RESIDUALS (v − centroid) per cluster; encoding
    * raw vectors keeps the oracle's code table identical to [[pqTopK]]'s
    * (recall measured beside it) — [[ivfPqResidualTopK]] is that classic
    * variant, the same relations with `v` shifted before [[pqCodes]].
    * Returns (query_id, neighbor_id, cluster_id, sim, rank).
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
      centroidPred: Column, pqCentroidPred: Column, m: Int, ds: Int,
      queryPred: Column, k: Int): DataFrame = {
    // ONE normalized corpus feeds the coarse assignment, the codebooks,
    // and the query side — the same shared-scan discipline as q_sim_recall.
    val corpus = withNorm(emb, idCol, vecCol)
    val assigned = assignClustersFrom(corpus, idCol, centroidPred)
    val recon = pqReconstruct(pqCodes(corpus, idCol, m, ds, pqCentroidPred),
      idCol)
      .join(assigned.select(col(idCol), col("cluster_id")), Seq(idCol))
    val queries = assigned.filter(queryPred)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cluster_id").as("qc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    recon.join(broadcast(queries),
        col("cluster_id") === col("qc") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("cluster_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVFADC with RESIDUAL encoding — the classic Jégou et al. 2011 §V
    * variant: each vector is PQ-coded as v − centroid(v) rather than raw,
    * so every subspace codebook models the (much tighter) within-cluster
    * displacement distribution instead of the global spread — the
    * published accuracy lever PQ gets for free at identical memory
    * (same m codes per vector). Search reconstructs centroid + decoded
    * residual and ranks with full-precision queries (ADC), confined to
    * the query's cluster like [[ivfPqTopK]].
    *
    * `pqCentroidPred` seeds the residual codebooks and should be DISJOINT
    * from `centroidPred`: a coarse centroid's own residual is the zero
    * vector, and zero-vector seeds waste codebook entries.
    *
    * Scale shape: the residual projection is map-side (broadcast centroid
    * join + element-wise zip_with, zero shuffle); codebooks broadcast;
    * the decode→add-back join is id-keyed against the id-grouped
    * reconstruction (the one shuffle PQ reconstruction already pays in
    * [[ivfPqTopK]]). Returns (query_id, neighbor_id, cluster_id, sim,
    * rank).
    */
  def ivfPqResidualTopK(emb: DataFrame, idCol: String, vecCol: String,
      centroidPred: Column, pqCentroidPred: Column, m: Int, ds: Int,
      queryPred: Column, k: Int): DataFrame = {
    val corpus = withNorm(emb, idCol, vecCol)
    val assigned = assignClustersFrom(corpus, idCol, centroidPred)
    val cents = corpus.filter(centroidPred)
      .select(col(idCol).as("cluster_id"), col("v").as("centv"))
    // (id, cluster_id, centv, v=residual) — feeds BOTH the code table and
    // the centroid add-back, so checkpoint once (persist on a cluster).
    val resid = assigned.join(broadcast(cents), Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("centv"),
        zip_with(col("v"), col("centv"), (a, b) => a - b).as("v"))
      .localCheckpoint()
    val codes = pqCodes(resid.select(col(idCol), col("v")), idCol, m, ds,
      pqCentroidPred)
    val recon = codes.groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("j"), col("rsv")))),
        x => x.getField("rsv"))).as("rv"))
    val full = recon
      .join(resid.select(col(idCol), col("cluster_id"), col("centv")),
        Seq(idCol))
      .select(col(idCol), col("cluster_id"),
        zip_with(col("rv"), col("centv"), (a, b) => a + b).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val queries = assigned.filter(queryPred)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cluster_id").as("qc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    full.join(broadcast(queries),
        col("cluster_id") === col("qc") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("cluster_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** PQ ANN top-k via asymmetric distance (ADC): queries stay
    * full-precision, corpus vectors are their PQ reconstructions. Returns
    * (query_id, neighbor_id, sim, rank) like [[bruteForceTopKFrom]].
    */
  def pqTopK(corpus: DataFrame, idCol: String, m: Int, ds: Int,
      centroidPred: Column, queryPred: Column, k: Int): DataFrame = {
    val recon = pqReconstruct(pqCodes(corpus, idCol, m, ds, centroidPred),
      idCol)
    val queries = corpus.filter(queryPred)
      .select(col(idCol).as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    recon.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-first
    * traversal; Sener & Savarese 2018 as the training-data-selection
    * framing): seed with the minimum id, then k−1 rounds of "add the
    * point farthest from the selected set" under rounded cosine distance
    * (round(1 − cos, 6), id tie-break — fully deterministic).
    *
    * Scale shape: every round is ONE job — a corpus pass computing each
    * candidate's least rounded distance to the ≤k selected vectors
    * (codegen'd native dot), then a TakeOrderedAndProject argmax that
    * returns the winner's id, distance, vector and norm. The next round
    * carries the selected ids, vectors and norms as array literals, which
    * generated code reads by reference, so a round's class is reused
    * across runs and inputs; a double literal would be inlined into the
    * source. Per round the driver holds exactly one row (the kmeans-step
    * precedent); total work O(n·k²) dot products, no pairwise n². Before
    * the rounds, a 2-job seed step (one shuffle of the corpus by id)
    * checks that ids are unique and returns the seed with its vector.
    *
    * Selection is per id: a row with a null id is never selected, and a
    * duplicated id fails loudly, since a per-row argmax matches the
    * per-id farthest point only when ids are unique.
    *
    * Returns (sel_order, id, dist) — the coverage radius of the final
    * set is max over the LAST round's candidates, i.e. the selection
    * trace IS the radius curve.
    */
  def kCenterCoreset(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    // Lazy: the seed step right below materializes the blocks.
    val corpus = withNorm(emb, idCol, vecCol).localCheckpoint(false)
      .filter(col(idCol).isNotNull)
    // Seed step, one shuffle: each row with its id's row count. Bounded
    // collect of one row: ordered by that count first, it is the seed
    // (smallest id) whenever every id is unique.
    val first = corpus
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .orderBy(col("n").desc, col(idCol).asc).limit(1).collect()
    var selected = Vector.empty[(Long, Long, Double)]
    if (first.nonEmpty) {
      val n = first(0).getLong(3)
      if (n > 1)
        throw new IllegalArgumentException(
          s"kCenterCoreset: id ${first(0).get(0)} appears $n times in " +
            s"'$idCol' — selection is per id, so ids must be unique")
      // (id, v, Array(nrm)) of a selected point, carried into the next
      // rounds as array literals; null vectors and elements stay null.
      def carried(id: Long, r: org.apache.spark.sql.Row, v: Int) =
        (id, Option(r.getSeq[java.lang.Double](v)).map(_.toArray).orNull,
          Array(r.getAs[java.lang.Double](v + 1)))
      val seedId = first(0).getLong(0)
      var sel = Vector(carried(seedId, first(0), 1))
      selected :+= ((1L, seedId, 0.0))
      var r = 2
      var exhausted = false
      while (r <= k && !exhausted) {
        // nrm·snrm as a one-term dot product: the same double (0.0 + p),
        // with snrm read by reference from an array literal.
        val dists = sel.map { case (_, sv, snrm) =>
          round(lit(1.0) - dot(col("v"), lit(sv)) /
            dot(array(col("nrm")), lit(snrm)), 6)
        }
        // Bounded collect: TakeOrderedAndProject of exactly one row.
        val top = corpus
          .filter(!array_contains(lit(sel.map(_._1).toArray), col(idCol)))
          .select(col(idCol),
            (if (dists.size == 1) dists.head else least(dists: _*))
              .as("dmin"),
            col("v"), col("nrm"))
          .orderBy(col("dmin").desc, col(idCol).asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val t = top(0)
          sel :+= carried(t.getLong(0), t, 2)
          selected :+= ((r.toLong, t.getLong(0), t.getDouble(1)))
          r += 1
        }
      }
    }
    selected.toDF("sel_order", "id", "dist")
      .select(col("sel_order"), col("id").as(idCol),
        round(col("dist"), 6).as("dist"))
  }

  /** Johnson-Lindenstrauss random projection to `outDim` dimensions via
    * a DETERMINISTIC ±1 sign matrix (the database-friendly JL variant of
    * Achlioptas 2003): s(i, j) = +1 iff the first hex digit of
    * md5("rp:j:i") is even — a pure (i, j) function both engines compute
    * identically, so the "random" matrix needs no RNG, no seed plumbing,
    * and no stored artifact. Inputs are quantized to exact micro-unit
    * longs first (explicit floor(x·1e6 + 0.5)), so each projected
    * coordinate is an ORDER-FREE integer sum — bit-identical across
    * partitionings and engines.
    *
    * Output is long format (id, j, y): at 100 TB the projected table is
    * the object that ships (outDim longs per vector — here 4× smaller
    * than the float64 input), and long format feeds the dot-product join
    * without array reassembly. Cost is the honest O(n·d·outDim) explode;
    * map-side combine collapses it to n·outDim rows on the wire.
    */
  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
      outDim: Int): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val x = emb
      .select(col(idCol),
        posexplode(asDouble(col(vecCol))).as(Seq("i", "xv")))
      .withColumn("xq", floor(col("xv") * 1e6 + lit(0.5)).cast("long"))
    // r19: s(i, j) takes d·outDim distinct values, but the old shape
    // recomputed the md5 chain on every one of the n·d·outDim exploded
    // rows — the dominant CPU of the rp family at the bench fixture
    // (guide §1.2 step 2: per-task work after the algorithm is right).
    // Precompute the d×outDim sign matrix once (the distinct-i pass
    // collapses map-side to ≤d rows per partition) and broadcast-join it
    // on i; the md5 input expression is IDENTICAL, so every sign — and
    // every projected coordinate — is bit-identical to the old shape.
    val signs = x.select(col("i")).distinct()
      .crossJoin(emb.sparkSession.range(outDim).select(col("id").as("j")))
      .withColumn("s",
        when(conv(substring(md5(concat(lit("rp:"), col("j"), lit(":"),
          col("i"))), 1, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L))
    x.join(broadcast(signs), Seq("i"))
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("xq") * col("s")).as("y"))
  }

  /** Exact cosine top-k over a LONG-FORMAT integer corpus (id, j, y):
    * broadcast the query rows, join on the dimension index, integer dot
    * products (order-free), norms as sqrt of exact integer
    * sum-of-squares. Returns (query_id, neighbor_id, sim, rank) — the
    * [[bruteForceTopKFrom]] contract for projected corpora.
    */
  def longFormatTopK(proj: DataFrame, idCol: String, queryPred: Column,
      k: Int): DataFrame = {
    val norms = proj.groupBy(col(idCol))
      .agg(sum(col("y") * col("y")).as("n2"))
    val queries = proj.filter(queryPred)
      .select(col(idCol).as("query_id"), col("j"), col("y").as("qy"))
    val sims = proj.join(broadcast(queries), Seq("j"))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("y") * col("qy")).as("dp"))
      .join(norms.select(col(idCol), col("n2").as("nb2")), idCol)
      .join(broadcast(norms.select(col(idCol).as("query_id"),
        col("n2").as("na2"))), "query_id")
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(col("dp").cast("double") /
          (sqrt(col("nb2").cast("double")) *
            sqrt(col("na2").cast("double"))), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
