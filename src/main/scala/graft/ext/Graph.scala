package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed link analysis over edge tables (Page et al. 1999; the
  * join–aggregate iteration layout is the canonical MapReduce/Pregel
  * formulation).
  *
  * Everything is exact integer arithmetic in nano-units so the result is
  * bit-identical across engines and partitionings: long sums are
  * order-free, and the damping multiply is the integer map
  * x -> (85·x) div 100 (d = 0.85 exactly). No floating point anywhere.
  */
object Graph {

  /** Storage level for EDGE-SCALE checkpoint blocks (the canonical edge
    * set and the oriented list feeding the wedge join): serialized, not
    * the localCheckpoint default of deserialized. A disk-evicted
    * deserialized block is re-materialized on read as a vector of row
    * OBJECTS (~100 B/row), and at factor 78 the 93M-row edge list times
    * 32 racing readers exhausted a 24 GB heap inside
    * maybeCacheDiskValuesInMemory (r18 measured: OutOfMemoryError in
    * DeserializedValuesHolder). Serialized blocks store the compact
    * UnsafeRow bytes (~20 B/row) and re-cache with bounded chunk
    * allocation — the node/iteration-scale checkpoints elsewhere in this
    * file stay on the default, where object form is cheap and saves
    * per-read deserialization.
    *
    * The trade's cost side — per-round re-reads pay deserialization
    * CPU — is a measured dial, not a constant: set the
    * `spark.graft.graph.storage` system property (or the
    * SPARK_GRAFT_GRAPH_STORAGE env) to `deser` to restore the
    * deserialized default where the aggregate edge working set is known
    * to fit storage memory (the r19 f78 A/B ledger
    * BENCH_SFx78_storage_ab.json prices both sides on the same
    * fixture). `ser` stays the default: it is the setting that survives
    * every measured scale on this box, and on a cluster the same choice
    * applies per-executor under the same fits-in-storage test.
    */
  private[ext] def edgeStorage: org.apache.spark.storage.StorageLevel = {
    val mode = sys.props.get("spark.graft.graph.storage")
      .orElse(sys.env.get("SPARK_GRAFT_GRAPH_STORAGE"))
      .getOrElse("ser")
    if (mode == "deser")
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
  }

  /** Directed edge set normalized to (src, dst) longs, deduplicated and
    * checkpointed — the shared build + null guard of the pagerank/HITS/
    * BFS family (r19 factoring; the per-family error message rides in
    * `what`), deduplicated ON TOP of a src-keyed repartition.
    *
    * What the repartition buys (r19, measured): NOT exchange
    * elimination — under AQE the partitioning metadata does not survive
    * a localCheckpoint (probe: the next join re-exchanged a keyed
    * checkpoint regardless) — but a session-width keyed LAYOUT in the
    * checkpointed blocks: the plain distinct's output arrives through
    * an AQE-coalesced read whose few fat partitions then underparallelize
    * every per-round scan of the edge table. A/B at sf0.1:
    * q_pagerank 6.5 s keyed vs 8.1 s plain, q_graph_bfs 4.2 vs 5.4.
    * dropDuplicates on the full (src, dst) key on top of the src hash
    * layout adds no second exchange (src co-locates the pair key).
    */
  private def directedEdges(edges: DataFrame, srcCol: String,
      dstCol: String, what: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
      .localCheckpoint(false, edgeStorage)
    if (!e.filter(col("src").isNull || col("dst").isNull).isEmpty)
      throw new IllegalArgumentException(
        s"$what: ids in '$srcCol'/'$dstCol' are null after cast " +
          "to long — edge endpoints must be non-null and numeric")
    e
  }

  /** Rank mass each node starts with (1.0 in nano-units). */
  val ScaleNano = 1000000000L

  /** Teleport term (1 − d)·Scale = 0.15 in nano-units, exact. */
  val BaseNano = 150000000L

  /** PageRank over directed `edges`, `iters` synchronous rounds, exact
    * nano-unit longs. Returns (node_id, rank_nano) for every node that
    * appears as a source or destination.
    *
    * Semantics: r_0(v) = Scale;
    * r_{i+1}(v) = Base + (85 · Σ_{u→v} (r_i(u) div outdeg(u))) div 100.
    * Dangling nodes (no out-edges) keep receiving rank but redistribute
    * none — the published "dangling mass dropped" simplification; total
    * mass shrinks accordingly, which is fine for RANKING (the per-node
    * order is what downstream consumers read) and keeps the recurrence
    * free of the global dangling-sum reduction.
    *
    * Scale shape: edges are deduplicated and localCheckpointed once;
    * outdegree is one hash-agg, node-sized. Each round is ONE shuffle of
    * the edge table (equi-join rank on src — the node-sized rank side is
    * broadcast-eligible under AQE when it fits) followed by a hash-agg on
    * dst with map-side partial sums, i.e. O(E) per round with no
    * quadratic anything; the rounds compose lazily into ONE executed
    * query (r19 — ranks is referenced once per round, so the unrolled
    * plan is a linear chain and needs no per-round truncation).
    *
    * Overflow headroom: a node's in-contribution is bounded by total mass
    * N·Scale; at N = 10^8 nodes that is 10^17, and ×85 stays inside the
    * signed-long range only to N ≈ 10^8 — beyond that, drop Scale a
    * decade. Fixture graphs are orders of magnitude below the bound.
    */
  def pageRankNano(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Null ids would collapse into one null-keyed pseudo-node — fail
    // loudly (same posture as Dedup.connectedComponents).
    val e = directedEdges(edges, srcCol, dstCol, "pageRankNano")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
      .localCheckpoint(false)
    // r19: the rounds compose LAZILY into one plan — ranks is referenced
    // exactly once per round (inside contrib's share), so the unrolled
    // plan is a linear chain of join+agg stages, executed as ONE query.
    // The old per-round eager localCheckpoint paid one job launch plus a
    // full row-copying cache pass per round for lineage truncation the
    // fixed small round count never needs; the multi-referenced leaves
    // (e, nodes, outdeg) stay checkpointed (lazily) so each is computed
    // once and cache-read per round.
    var ranks = nodes.select(col("id"), lit(ScaleNano).as("r"))
    for (_ <- 1 to iters) {
      ranks = nodes.join(contrib(e, ranks, outdeg), Seq("id"), "left")
        .select(col("id"),
          (lit(BaseNano) +
            expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    ranks.select(col("id").as("node_id"), col("r").as("rank_nano"))
  }

  /** Personalized PageRank (Haveliwala 2002, "Topic-Sensitive
    * PageRank"): the teleport term lands ONLY on the seed set, so rank
    * mass concentrates around the seeds' neighborhoods —
    * r_0(v) = Scale·1{v∈S};
    * r_{i+1}(v) = Base·1{v∈S} + (85 · Σ_{u→v} r_i(u) div od(u)) div 100.
    * `seed` is any deterministic boolean predicate over the node id
    * column `id`. Same integer-exact arithmetic, same O(E)-per-round
    * shape as [[pageRankNano]]; the two differ only in where teleport
    * mass re-enters, so they share the contrib composition.
    */
  def personalizedPageRankNano(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int, seed: Column): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = directedEdges(edges, srcCol, dstCol, "personalizedPageRankNano")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .withColumn("base",
        when(seed, lit(BaseNano)).otherwise(lit(0L)))
      .localCheckpoint(false)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
      .localCheckpoint(false)
    // Lazy round composition — the pageRankNano rationale verbatim.
    var ranks = nodes.select(col("id"),
      when(col("base") > 0, lit(ScaleNano)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      ranks = nodes.join(contrib(e, ranks, outdeg), Seq("id"), "left")
        .select(col("id"),
          (col("base") +
            expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    ranks.select(col("id").as("node_id"), col("r").as("rank_nano"))
  }

  /** HITS hub scale: micro-units, not nano — a raw hub/authority sum is
    * bounded by max-degree × scale, and the subsequent ×scale
    * renormalization must stay inside a signed long on the Spark side
    * (DuckDB's HUGEINT would mask the overflow, silently diverging the
    * engines). 10^6 keeps exactness to max-degree ≈ 9×10^6.
    */
  val HitsScaleMicro = 1000000L

  /** HITS hubs and authorities (Kleinberg 1999) in exact micro-unit
    * integer arithmetic: per round, authority(v) = Σ_{u→v} hub(u) then
    * hub(u) = Σ_{u→v} authority(v), each renormalized to max = Scale by
    * the integer map x -> (x·Scale) div max(x) — max-normalization
    * instead of the usual L2 norm, which would need a square root and
    * reintroduce engine drift. The max rides in as a one-row broadcast
    * cross join (scalar-subquery shape), never a driver collect.
    * Each round is two edge-table equi-joins + two dst/src hash-aggs —
    * O(E) per round like [[pageRankNano]]; scores lazily checkpointed
    * per half-round. Returns (node_id, hub_micro, auth_micro).
    */
  def hitsMicro(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = directedEdges(edges, srcCol, dstCol, "hitsMicro")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(false)
    // Renormalize (id, s) to max = Scale. r19: nodes ABSENT from raw stay
    // absent through the rounds instead of being null-padded to 0 — an
    // absent row contributes exactly what a 0-score row does to the next
    // half-round's inner join and to the max, so deferring the
    // node-completion to the single left-join at the end removes one
    // node-sized outer join per half-round (2·iters of them) at
    // identical output. A positive max is guaranteed whenever raw is
    // non-empty (sums of positive scores).
    // The RAW half-round sum is what checkpoints (lazily — the max
    // broadcast's scan is the materializing action): normalized()
    // references its input twice (max agg + crossJoin), so checkpointing
    // the OUTPUT left the edge join to run once per reference, while the
    // cached raw table makes both references cache reads and the
    // re-executed part just the one-column normalize projection (r19).
    def normalized(rawPlan: DataFrame, out: String): DataFrame = {
      val raw = rawPlan.localCheckpoint(false)
      val mx = raw.agg(max(col("s")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"),
          expr(s"(s * $HitsScaleMicro) div mx").as(out))
    }
    var hubs = nodes.select(col("id"), lit(HitsScaleMicro).as("hub"))
    var auths = nodes.select(col("id"), lit(0L).as("auth"))
    for (_ <- 1 to iters) {
      auths = normalized(
        e.join(hubs.select(col("id").as("src"), col("hub")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("s")),
        "auth")
      hubs = normalized(
        e.join(auths.select(col("id").as("dst"), col("auth")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(sum(col("auth")).as("s")),
        "hub")
    }
    nodes
      .join(hubs, Seq("id"), "left").join(auths, Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("hub"), lit(0L)).as("hub_micro"),
        coalesce(col("auth"), lit(0L)).as("auth_micro"))
  }

  /** Multi-source BFS hop distances: min #hops from any seed node to
    * every node reachable within `maxHops`, over the directed edge set.
    * `seed` is any deterministic boolean predicate over the node id
    * column `id` (the personalizedPageRankNano convention).
    *
    * Classic frontier expansion — the Pregel/GraphX SSSP layout as plain
    * DataFrame rounds: the frontier joins the edge table (one O(E)
    * shuffle), newly reached nodes (LEFT ANTI against the settled set)
    * become the next frontier; the frontier is lazily localCheckpointed
    * (the isEmpty probe materializes it) and the settled set is a union
    * of those checkpointed leaves. Work per round is O(E) worst-case but
    * proportional to the frontier's out-edges in practice; the loop
    * stops early on an empty frontier (one bounded count per round —
    * the connectedComponents convergence-probe precedent). Distances are
    * exact by induction: a node enters the settled set the first round
    * it is reachable, which IS its minimum hop count.
    *
    * Returns (node_id, dist) for reached nodes only — unreachable nodes
    * are absent, not null-padded (consumers LEFT JOIN if they want ∞).
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seed: Column, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = directedEdges(edges, srcCol, dstCol, "bfsHops")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var settled = nodes.filter(seed)
      .select(col("id"), lit(0L).as("dist")).localCheckpoint(false)
    var frontier = settled.select(col("id"))
    var hop = 0
    // r19: the per-round frontier checkpoint is LAZY — the isEmpty probe
    // (the next action) materializes it, folding what used to be a
    // separate checkpoint job into the probe. settled needs no checkpoint
    // at all: it is a unionAll of checkpointed frontier leaves, so both
    // its per-round consumers (the anti-join and the final read) scan
    // cached blocks; the plan grows by one leaf per hop, bounded by
    // maxHops.
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = frontier
        .join(e, frontier("id") === e("src"))
        .select(col("dst").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .localCheckpoint(false)
      settled = settled
        .unionAll(frontier.select(col("id"), lit(hop.toLong).as("dist")))
    }
    settled.select(col("id").as("node_id"), col("dist"))
  }

  /** Per-node triangle counts by degree-ordered edge orientation (the
    * MapReduce triangle-counting layout of Suri & Vassilvitskii 2011 /
    * Cohen 2009): orient every undirected edge from the (degree, id)-
    * smaller endpoint to the larger, enumerate wedges by self-joining
    * the oriented list on its source, and probe each wedge's closing
    * edge with one more equi-join. Orientation bounds every node's
    * out-degree by O(√E), so the wedge set is O(E^1.5) worst-case and
    * near-linear on real degree distributions — the whole pipeline is
    * three shuffles (degree agg, wedge join, closing probe), no
    * nested loops, each triangle produced exactly once.
    *
    * Returns (node_id, n_triangles) for EVERY node of the graph,
    * including zero rows — each triangle credits all three corners.
    */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String)
      : DataFrame =
    triangleCountsFrom(canonicalEdges(pairs, aCol, bCol))

  /** Canonical undirected edge set (lo < hi), self-loops dropped,
    * checkpointed — the shared base of the triangle/coefficient family.
    */
  private[ext] def canonicalEdges(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val p = pairs.select(col(aCol).cast("long").as("x"),
      col(bCol).cast("long").as("y"))
    // lo-keyed layout into the checkpoint — the directedEdges rationale
    // (parallel per-round scans; the dedup itself adds no exchange).
    p.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("lo"),
        greatest(col("x"), col("y")).as("hi"))
      .repartition(col("lo"))
      .dropDuplicates(Seq("lo", "hi"))
      .localCheckpoint(true, edgeStorage)
  }

  /** k-truss membership (Cohen 2008, "Trusses: cohesive subgraphs for
    * social network analysis"): iteratively drop every edge supported by
    * fewer than k−2 triangles among the SURVIVING edges — the
    * edge-grained cohesion ladder above [[kCore]]'s degree peel (every
    * k-truss edge joins k−2 mutually-adjacent corroborating wedges, so a
    * truss survives the hub-and-spoke artifacts a core keeps).
    *
    * Synchronous peel with a FIXED round budget (the kCore posture: both
    * engines stay well-defined pre-convergence). Per round:
    * [[trianglesFrom]] enumerates each surviving triangle once under the
    * (deg, id) orientation (O(√E) wedge bound — a hub costs √E wedges,
    * not degree²), three canonical-edge projections hash-agg per-edge
    * support, one join back filters; edges localCheckpointed per round.
    * Support counts are orientation-independent (every triangle is
    * counted exactly once under ANY orientation), so the SQL twin may
    * enumerate with the simpler lo<hi wedge join and still match row
    * for row — which independently proves the orientation lossless.
    *
    * Returns (lo, hi, in_truss) over the ORIGINAL canonical edge set.
    */
  def kTruss(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val orig = canonicalEdges(pairs, aCol, bCol)
    var e = orig
    for (_ <- 1 to rounds) e = peelOnce(e, k)
    trussReport(orig, e)
  }

  /** [[kTruss]] with round 1 served from MATERIALIZED per-edge support
    * (the `support` table [[writeTriangleState]] persists): the first —
    * and by far largest — triangle enumeration becomes an edge-sized
    * join against precomputed counts; rounds 2..n re-enumerate over the
    * already-peeled survivor set only. Bit-identical to [[kTruss]] over
    * the same graph because round 1 there computes exactly this support.
    * `orig` must be the state's canonical edge set.
    */
  def kTrussResume(orig: DataFrame, support: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = orig.join(
        support.filter(col("nsup") >= k - 2).select(col("lo"), col("hi")),
        Seq("lo", "hi"))
      .localCheckpoint(true, edgeStorage)
    for (_ <- 2 to rounds) e = peelOnce(e, k)
    trussReport(orig, e)
  }

  /** One synchronous peel round: enumerate surviving triangles, hash-agg
    * per-edge support, drop edges under k−2. Shared by [[kTruss]] and
    * [[kTrussResume]] so the round semantics cannot diverge.
    */
  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val sup = supportFrom(trianglesFrom(e)).filter(col("nsup") >= k - 2)
    // Eager (the kCore rationale): the next peel's trianglesFrom
    // references the survivor set multiple ways with no materializing
    // action in between.
    e.join(sup.select(col("lo"), col("hi")), Seq("lo", "hi"))
      .localCheckpoint(true, edgeStorage)
  }

  /** Per-edge triangle support of an enumerated triangle set — each
    * triangle credits its three canonical edges.
    */
  private def supportFrom(tri: DataFrame): DataFrame = {
    def edgeOf(u: Column, v: Column) =
      struct(least(u, v).as("lo"), greatest(u, v).as("hi"))
    tri.select(explode(array(
        edgeOf(col("a"), col("b")),
        edgeOf(col("a"), col("c")),
        edgeOf(col("b"), col("c")))).as("e"))
      .groupBy(col("e.lo").as("lo"), col("e.hi").as("hi"))
      .agg(count(lit(1)).as("nsup"))
  }

  private def trussReport(orig: DataFrame, e: DataFrame): DataFrame =
    orig.join(e.withColumn("in_truss", lit(true)), Seq("lo", "hi"), "left")
      .select(col("lo"), col("hi"),
        coalesce(col("in_truss"), lit(false)).as("in_truss"))

  /** Materialized triangle state — the [[graft.engine.Pipeline]]
    * `writeDedupState` pattern applied to the graph family, which
    * otherwise triple-pays the suite's single largest shuffle (the wedge
    * join: 4.7–5.5 GB per query at bench factor 10). ONE degree-oriented
    * enumeration persists:
    *
    *   - `outDir/edges`       (lo, hi) — canonical undirected edge set
    *   - `outDir/degrees`     (id, deg)
    *   - `outDir/triangles`   (a, b, c) — every triangle exactly once
    *   - `outDir/support`     (lo, hi, nsup) — per-edge triangle support
    *     (edges in no triangle are absent: support 0 by left-join)
    *   - `outDir/tri_counts`  (node_id, n_triangles) — all nodes, zeros
    *     kept
    *
    * so every consumer (per-node counts, clustering coefficients, the
    * k-truss first peel, downstream cohesion reports) reads node- or
    * edge-sized tables and only the build pays the wedge join. At 100 TB
    * this is the production layout: triangle state is maintained beside
    * the graph, not recomputed per report.
    */
  def writeTriangleState(pairs: DataFrame, aCol: String, bCol: String,
      outDir: String): Unit = {
    val spark = pairs.sparkSession
    val und = canonicalEdges(pairs, aCol, bCol)
    // Two concurrent write phases (the ensureBuilt overlap pattern): the
    // edge and degree dumps are independent of the wedge-join write and
    // hide under it; support and per-node counts both derive from the
    // triangles PARQUET read (so the enumeration runs exactly once) and
    // overlap each other. und is eagerly checkpointed by canonicalEdges,
    // so the concurrent consumers read settled cache blocks.
    concurrently(Seq(
      () => und.write.mode("overwrite").parquet(s"$outDir/edges"),
      () => degrees(und).write.mode("overwrite")
        .parquet(s"$outDir/degrees"),
      () => trianglesFrom(und).write.mode("overwrite")
        .parquet(s"$outDir/triangles")))
    val tri = spark.read.schema("a LONG, b LONG, c LONG")
      .parquet(s"$outDir/triangles")
    val nodes = und.select(col("lo").as("id"))
      .union(und.select(col("hi").as("id"))).distinct()
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n"))
    concurrently(Seq(
      () => supportFrom(tri).write.mode("overwrite")
        .parquet(s"$outDir/support"),
      () => nodes.join(perNode, Seq("id"), "left")
        .select(col("id").as("node_id"),
          coalesce(col("n"), lit(0L)).as("n_triangles"))
        .write.mode("overwrite").parquet(s"$outDir/tri_counts")))
  }

  /** Run independent write jobs concurrently from driver threads so one
    * job's task tail backfills the others' freed slots; every task
    * settles before the first failure propagates.
    */
  private def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs =
        tasks.map(b => pool.submit(new Runnable { def run(): Unit = b() }))
      val errs = futs.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause)
        }
      }
      errs.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }

  /** Readers over a [[writeTriangleState]] layout. Explicit schemas keep
    * every read lawful on a triangle-free graph (zero part files to
    * infer from — the dedup-state precedent).
    */
  final case class TriangleState(edges: DataFrame, degrees: DataFrame,
      support: DataFrame, triCounts: DataFrame)

  def readTriangleState(spark: org.apache.spark.sql.SparkSession,
      dir: String): TriangleState = TriangleState(
    edges = spark.read.schema("lo LONG, hi LONG").parquet(s"$dir/edges"),
    degrees = spark.read.schema("id LONG, deg LONG")
      .parquet(s"$dir/degrees"),
    support = spark.read.schema("lo LONG, hi LONG, nsup LONG")
      .parquet(s"$dir/support"),
    triCounts = spark.read.schema("node_id LONG, n_triangles LONG")
      .parquet(s"$dir/tri_counts"))

  /** Undirected degree per node of a canonical edge set. */
  private[ext] def degrees(und: DataFrame): DataFrame =
    und.select(col("lo").as("id"))
      .unionAll(und.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Every triangle of a canonical edge set exactly once, as (a, b, c)
    * rows (corner order follows the (deg, id) orientation, NOT lo<hi) —
    * the degree-oriented enumeration (Suri & Vassilvitskii 2011) with
    * its O(√E) out-degree bound, shared by [[triangleCounts]] and
    * [[kTruss]].
    */
  private[ext] def trianglesFrom(und: DataFrame): DataFrame = {
    val deg = degrees(und)
    // Orient by (deg, id): src strictly smaller in that total order.
    val ori = und
      .join(deg.select(col("id").as("lo"), col("deg").as("dlo")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("deg").as("dhi")), Seq("hi"))
      .select(
        when(col("dlo") < col("dhi") ||
            (col("dlo") === col("dhi") && col("lo") < col("hi")),
          struct(col("lo").as("s"), col("hi").as("d"),
            col("dhi").as("dd")))
          .otherwise(struct(col("hi").as("s"), col("lo").as("d"),
            col("dlo").as("dd"))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"),
        col("e.dd").as("ddeg"))
      // Lazy: the eCount action below materializes the blocks — the
      // count IS the checkpoint pass instead of following one.
      .localCheckpoint(false, edgeStorage)
    // Wedges (src; v, w) with v before w in the SAME (deg, id) order, so
    // the closing edge — if present — is oriented exactly v -> w.
    val e1 = ori.select(col("src"), col("dst").as("v"),
      col("ddeg").as("dv"))
    val e2 = ori.select(col("src"), col("dst").as("w"),
      col("ddeg").as("dw"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val closing = ori.select(col("src").as("v"), col("dst").as("w"))
    // The closing join probes an EDGE-sized relation with the Σd²-sized
    // wedge stream. Default SMJ sorts the wedge stream, and at factor 78
    // that sort's spill on top of the build's own accumulated shuffle
    // files overran the single box's scratch (r18 measured:
    // SPILL_OUT_OF_MEMORY after ~68 GB consumed in 8 minutes inside this
    // stage). SHUFFLE_HASH builds the hash table from the hinted edge
    // side and STREAMS the wedges unsorted: the same shuffle bytes, zero
    // sort spill. On a real cluster the same argument holds — the build
    // side stays edge-sized while the probe side is the quadratic
    // stream, so SHJ dominates SMJ for this join at any scale.
    //
    // The partition count must scale with |E|, not sit at the session
    // default: at factor 78 the 93M-edge set over 32 partitions is a
    // ~3M-row (~200 MB, skew-inflated) hash map per task — over the
    // 1/2N per-task execution-memory quota, and the r18 follow-up
    // failure ("not enough memory to build hash map"). |E| is free to
    // read (ori is localCheckpointed); target ~500k build rows (~32 MB)
    // per partition. Explicit repartition(n, keys) co-partitions both
    // sides AND pins the layout — AQE does not coalesce user-specified
    // partitioning, so the maps cannot silently re-merge past the quota.
    val eCount = ori.count()
    val defaultParts =
      ori.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val nParts = math.min(4096,
      math.max(defaultParts, (eCount / 500000L).toInt + 1))
    wedges.repartition(nParts, col("v"), col("w"))
      .join(closing.repartition(nParts, col("v"), col("w"))
        .hint("shuffle_hash"), Seq("v", "w"))
      .select(col("src").as("a"), col("v").as("b"), col("w").as("c"))
  }

  private def triangleCountsFrom(und: DataFrame): DataFrame = {
    val nodes = und.select(col("lo").as("id"))
      .union(und.select(col("hi").as("id"))).distinct()
    val perNode = trianglesFrom(und)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n"))
    nodes.join(perNode, Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient (Watts & Strogatz 1998):
    * c(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 for degree < 2. Composes the
    * triangle counts with the degree table (both over ONE shared
    * canonical edge set); exact integers into a single IEEE division,
    * rounded to 6 — the engine's established drift-free shape.
    * Returns (node_id, degree, n_triangles, coeff).
    */
  def clusteringCoefficients(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = canonicalEdges(pairs, aCol, bCol)
    clusteringFromCounts(triangleCountsFrom(und), degrees(und))
  }

  /** The coefficient composition over ALREADY-AGGREGATED per-node
    * triangle counts and degrees — the shape that reads
    * [[writeTriangleState]]'s node-sized tables instead of re-running
    * the wedge join. Shared by [[clusteringCoefficients]] so the
    * arithmetic cannot diverge between the recompute and state paths.
    */
  def clusteringFromCounts(triCounts: DataFrame, degs: DataFrame)
      : DataFrame =
    triCounts
      .join(degs.select(col("id").as("node_id"), col("deg").as("degree")),
        Seq("node_id"))
      .select(col("node_id"), col("degree"), col("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * col("n_triangles") /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("coeff"))

  /** Synchronous label propagation community detection (Raghavan,
    * Albert & Kumara 2007) with DETERMINISTIC tie-breaks: l_0(v) = v;
    * each round every node adopts the label most frequent among its
    * neighbors, ties broken by the SMALLEST label — the original
    * algorithm breaks ties randomly, which would diverge across
    * engines/partitionings, so the min-label rule replaces it (the same
    * determinism substitution the dedup clusters make for "arbitrary
    * survivor"). A fixed round count (synchronous/Pregel formulation)
    * rather than run-to-convergence: synchronous LPA can oscillate on
    * bipartite structure, so a bounded audit pass is the honest contract.
    *
    * Scale shape: the undirected neighbor list (both directions of the
    * canonical lo<hi edge set) is built once and localCheckpointed; each
    * round is ONE equi-join of the node-sized label table onto the
    * neighbor list + a (node, label) hash-agg with map-side combine +
    * a per-node max(struct) argmax — O(E) per round, labels
    * localCheckpointed so the plan never deepens. All arithmetic is
    * integer (counts and long labels): bit-identical across engines.
    *
    * Returns (node_id, community) for every node of the graph.
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val und = canonicalEdges(pairs, aCol, bCol)
    val nbr = und.select(col("lo").as("id"), col("hi").as("nb"))
      .unionAll(und.select(col("hi").as("id"), col("lo").as("nb")))
      .localCheckpoint(true, edgeStorage)
    val nodes = und.select(col("lo").as("id"))
      .union(und.select(col("hi").as("id"))).distinct().localCheckpoint()
    // Rounds stay EAGERLY checkpointed here — the r19 lazy-composition
    // A/B (which pays off for pageRankNano) measured ~1 s WORSE on this
    // operator at sf0.1 (two aggregation exchanges per round; the eager
    // per-round materialization was consistently faster across
    // interleaved reps), so the measured shape stands.
    var labels = nodes.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to iters) {
      // argmax by (count, -label): max struct comparison is
      // lexicographic, so equal counts fall through to the LARGEST
      // negated label = smallest label. Isolated nodes can't occur
      // (every node has >=1 edge by construction).
      labels = nbr
        .join(labels.select(col("id").as("nb"), col("lbl")), Seq("nb"))
        .groupBy(col("id"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("id"))
        .agg(max(struct(col("n"), (-col("lbl")).as("neg"))).as("top"))
        .select(col("id"), (-col("top.neg")).as("lbl"))
        .localCheckpoint()
    }
    labels.select(col("id").as("node_id"), col("lbl").as("community"))
  }

  /** k-core membership by synchronous batch peeling (the distributed
    * formulation of Batagelj & Zaversnik 2003): each round drops every
    * node of current degree < k and the edges touching it, `rounds`
    * times; a node is in the k-core iff it still has degree >= k in the
    * surviving edge set. Batch peeling is order-free (all sub-k nodes
    * leave together), so the result is deterministic and the oracle can
    * unroll the same rounds. A fixed round budget keeps both engines
    * well-defined even before convergence (the LPA contract); each
    * round is a degree hash-agg + two semi-join-shaped filters on the
    * edge list, O(E), edges localCheckpointed so the plan never deepens.
    *
    * Returns (node_id, in_kcore) for every node of the ORIGINAL graph.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und0 = canonicalEdges(pairs, aCol, bCol)
    val nodes = und0.select(col("lo").as("id"))
      .union(und0.select(col("hi").as("id"))).distinct()
      .localCheckpoint(false)
    var e = und0
    for (_ <- 1 to rounds) {
      val surv = degrees(e).filter(col("deg") >= k).select(col("id"))
      // Eager: the next round references e FOUR ways (degree agg + both
      // semi-joins) with no intervening action — a lazy leaf would be
      // race-materialized by concurrent AQE stages (cache-lock blocking).
      e = e.join(surv.select(col("id").as("lo")), Seq("lo"))
        .join(surv.select(col("id").as("hi")), Seq("hi"))
        .select(col("lo"), col("hi")).localCheckpoint(true, edgeStorage)
    }
    val core = degrees(e).filter(col("deg") >= k)
      .select(col("id"), lit(true).as("core"))
    nodes.join(core, Seq("id"), "left")
      .select(col("id").as("node_id"),
        coalesce(col("core"), lit(false)).as("in_kcore"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the edge list counted in BOTH directions —
    * positive means hubs attach to hubs. One degree hash-agg + two
    * node-sized equi-joins onto the doubled edge list into a single
    * corr aggregate, rounded to 4 (the q_stats_profile float-aggregate
    * posture). Returns one row (n_directed_edges, assortativity).
    */
  def degreeAssortativity(pairs: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val und = canonicalEdges(pairs, aCol, bCol)
    val deg = degrees(und)
    // r19: join the degree table onto the CANONICAL edge list (E rows)
    // and double to both directions afterwards with a map-side explode —
    // the old shape doubled first and paid both joins on 2E rows, and
    // its union of two projections would otherwise evaluate the join
    // subtree twice (guide §2.3 "shuffle fewer bytes"); corr is the same
    // Catalyst aggregate over the same doubled multiset.
    und
      .join(deg.select(col("id").as("lo"), col("deg").as("dlo")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("deg").as("dhi")), Seq("hi"))
      .select(explode(array(
        struct(col("dlo").as("da"), col("dhi").as("db")),
        struct(col("dhi").as("da"), col("dlo").as("db")))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("n_directed_edges"),
        round(corr(col("da"), col("db")), 4).as("assortativity"))
  }

  /** One round's in-contribution table (id, c). The per-source share
    * `r div od` is computed on the NODE-sized ranks ⋈ outdeg join first,
    * then attached to the edge list with a single equi-join on src —
    * the r19 rewrite of the old e ⋈ ranks ⋈ outdeg chain, which paid
    * TWO edge-sized join stages per round (guide §3: join the small
    * tables together before touching the big one; the sum over edges of
    * a per-src constant is identical either way). Factored out so
    * PlanSpec can pin the round's physical shape (the loop's plans
    * truncate at each localCheckpoint).
    */
  private[ext] def contrib(e: DataFrame, ranks: DataFrame,
      outdeg: DataFrame): DataFrame = {
    val share = ranks.select(col("id").as("src"), col("r"))
      .join(outdeg, Seq("src"))
      .select(col("src"), expr("r div od").as("sh"))
    e.join(share, Seq("src"))
      .groupBy(col("dst").as("id"))
      .agg(sum(col("sh")).as("c"))
  }
}
