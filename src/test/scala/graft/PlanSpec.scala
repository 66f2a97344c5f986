package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the properties that make these queries
  * survive a 100× scale-up, pinned so a refactor can't silently lose them.
  * Checked on the physical plan string at sf0.001 (plan shape, not data).
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString()

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q1_agg prunes columns: no l_comment in the read schema") {
    val p = plan("q1_agg")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment"))
  }

  test("q_text_stats reads only doc_id and text") {
    val p = plan("q_text_stats")
    assert(!p.contains("n_chars") && !p.contains("source"))
  }

  test("q_join_star broadcasts the dimension tables") {
    val p = plan("q_join_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("q_topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_sample_weighted takes its top-k via per-partition heaps") {
    // priority sampling must never globally sort the corpus by priority
    val p = plan("q_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("non-LIMIT queries carry no terminal global sort") {
    for (q <- Seq("q_cleaning", "q_join_inner", "q_dedup_exact",
        "q_range_violations", "q_date_parts")) {
      val p = plan(q)
      assert(!p.contains("rangepartitioning"),
        s"$q still plans a global range-partitioned sort")
    }
  }

  test("windows partition by a data-scaled key (no global window)") {
    for (q <- Seq("q_window_topn", "q_dedup_latest", "q_window_running")) {
      val p = plan(q)
      // an unpartitioned (or constant-key) window serializes onto one task
      // and its shuffle prints as a single-partition Exchange
      assert(!p.contains("Exchange SinglePartition"),
        s"$q plans a single-partition exchange (global window):\n$p")
      assert(p.contains("hashpartitioning("),
        s"$q should shuffle on its window key")
    }
  }

  test("q_join_bucketed joins and aggregates with zero exchange") {
    // write-time bucketing on the join key must eliminate every shuffle:
    // sort-merge join over co-located buckets, and the per-custkey
    // aggregate reuses the same bucket partitioning
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle (found an Exchange):\n$p")
  }

  test("q_window_ntile_seg partitions its window by the segment key") {
    // the distribution ranks must compute per o_orderstatus segment,
    // never on a single task
    val p = plan("q_window_ntile_seg")
    assert(!p.contains("Exchange SinglePartition"),
      s"segmented ntile plans a global window:\n$p")
    assert(p.contains("windowspecdefinition(o_orderstatus"),
      s"window must partition by the segment key:\n$p")
  }

  test("GlobalRank's distributed path windows by partition id, never " +
      "a single partition; the adaptive cutover picks it only at scale") {
    // r13: the bare Window.orderBy shape funneled the whole table through
    // one task (19.9× at factor 26). The distributed path
    // range-repartitions (inside the checkpoint stage — invisible to
    // executedPlan) and ranks per partition; its visible plan must window
    // BY the partition id with no SinglePartition exchange anywhere.
    val (ranked, n) = graft.ext.GlobalRank.withGlobalRowNumber(
      spark.read.parquet(s"$dir/orders.parquet"),
      "rn", org.apache.spark.sql.functions.col("o_totalprice").desc,
      org.apache.spark.sql.functions.col("o_orderkey").asc)
    assert(n > 0)
    val p = ranked.queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange SinglePartition"),
      s"distributed global rank plans a single-partition window:\n$p")
    assert(p.contains("windowspecdefinition(_pid"),
      s"expected the rank window partitioned by _pid:\n$p")
    // Below SmallThreshold the adaptive query keeps the cheap classic
    // plan — one window, no checkpoint jobs (this fixture is 1.5K rows).
    val q = plan("q_window_ntile")
    assert(!q.contains("windowspecdefinition(_pid"),
      s"adaptive path must pick the classic window at fixture scale:\n$q")
  }

  test("q_fuzzy_join verifies candidates from equi-blocking, no nested loop") {
    // the block→verify contract: candidate pairs come from hash-joinable
    // 1-char blocking keys; a BroadcastNestedLoopJoin would mean the edit
    // distance leaked into the join condition (quadratic all-pairs)
    val p = plan("q_fuzzy_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to an all-pairs nested loop:\n$p")
  }

  test("q_merge_upsert resolves the batch in one full-outer equi join") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), s"expected a full-outer merge join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"merge lost its equi key:\n$p")
  }

  test("ivf assignment is an argmax projection, not a window over the corpus") {
    // exactly ONE Window node (the final per-query rank, partitioned by
    // query_id); the old crossJoin+row_number assignment added a second
    // one partitioned by vec_id over the k×-expanded corpus
    val p = plan("q_sim_ivf")
    assert("Window \\[".r.findAllIn(p).size == 1)
    assert(p.contains("windowspecdefinition(query_id"))
    assert(!p.contains("windowspecdefinition(vec_id"))
    assert(p.contains("vec_dot")) // native expression in use
  }

  test("similarity pairs use the native dot product, not interpreted HOFs") {
    val p = plan("q_sim_neardup")
    assert(p.contains("vec_dot"))
    assert(!p.contains("zip_with")) // the interpreted form it replaced
    assert(p.contains("BroadcastExchange")) // build side broadcast, not shuffled
  }

  test("minhash family runs the corpus shingle pass exactly once") {
    // The signature/shingle tables are materialized (localCheckpoint) before
    // their self-joins, because exchange reuse across self-join re-aliasing
    // proved unreliable (round 2 measured the corpus explode running once
    // per consumer — 4× on minhash_verified). With the materialization the
    // final plan reads cached blocks: no parquet re-scan, no re-explode.
    for (q <- Seq("q_dedup_minhash_pairs", "q_dedup_minhash_verified",
        "q_decontamination", "q_winnow_containment")) {
      val p = plan(q)
      assert(!p.contains("FileScan"),
        s"$q re-scans the corpus per consumer:\n$p")
      assert(!p.contains("Generate explode"),
        s"$q re-runs the shingle explode per consumer:\n$p")
    }
  }

  test("q_zscore broadcasts the moment table, never sorts") {
    // the scale contract of the hash-agg + broadcast formulation: a
    // SortMergeJoin (or any sort) would mean the 3-row stats table is
    // being shuffled against the fact table, and a window formulation
    // would funnel each l_returnflag group through one task
    val p = plan("q_zscore")
    assert(p.contains("BroadcastHashJoin"), s"stats join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"z-score degenerated to a sort/window formulation:\n$p")
  }

  test("q_mutual_info joins every marginal by broadcast") {
    val p = plan("q_mutual_info")
    assert(!p.contains("SortMergeJoin"),
      s"PMI marginals should broadcast onto the tiny joint table:\n$p")
  }

  test("q_streaks reuses the window's user partitioning for the island agg") {
    // day − row_number is constant per island, and the groupBy keys
    // (user_id, grp) are clustered by the window's hashpartitioning on
    // user_id alone — an exchange above the Window would mean
    // EnsureRequirements stopped recognizing the subset partitioning.
    // (Two shuffles BELOW it are deliberate: the day-distinct dedups
    // map-side before shuffling — at raw scale events ≫ user-days, so
    // that partial agg is worth the second, tiny exchange.)
    val p = plan("q_streaks")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 2,
      s"q_streaks should shuffle twice (found $shuffles):\n$p")
    val aboveWindow = p.substring(0, p.indexOf("Window ["))
    assert(!aboveWindow.contains("Exchange"),
      s"island aggregate re-shuffles the window output:\n$p")
  }

  test("no query in the registry plans a CartesianProduct") {
    // Deliberate small-build-side NLJs plan as BroadcastNestedLoopJoin;
    // a CartesianProduct node means a join lost its keys (or a broadcast
    // hint) somewhere — at scale that's corpus × corpus.
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(TestSpark.spark, dir).queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("outlier stats broadcast back to the fact table") {
    val p = plan("q_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("unpivot is a map-side Expand, no shuffle") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("winnow fingerprints shuffle once (agg reuses window partitioning)") {
    val p = plan("q_fingerprint_winnow")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Generate posexplode".r.findAllIn(p).size == 1, p)
  }

  test("decontamination derives splits from pair ids, no corpus join-back") {
    // splitCol is a pure hash of the id: exactly the band self-join remains.
    val p = plan("q_decontamination")
    assert("Join".r.findAllIn(p).size == 1, p)
  }

  test("q_incremental_prune pushes the load_date filter to PartitionFilters") {
    // The load_date filter must prune at plan time (directory-level skip),
    // not run as a post-scan Filter over the whole history — at 100 TB this
    // is the difference between reading one day and reading the table.
    val p = plan("q_incremental_prune")
    assert("PartitionFilters: \\[[^\\]]*load_date".r.findFirstIn(p).isDefined,
      s"load_date not in PartitionFilters:\n$p")
    // and it really is partition metadata, not a data filter after the scan:
    assert(!"PushedFilters: \\[[^\\]]*load_date".r.findFirstIn(p).isDefined,
      s"load_date degraded to a data-level pushed filter:\n$p")
  }

  test("q_tpch_q17 decorrelates the scalar subquery to an aggregate-join") {
    // The correlated `avg(l_quantity) WHERE same part` must rewrite to a
    // per-part aggregate joined back on the key — a per-row nested loop
    // re-scans the fact table once per lineitem at 100 TB.
    val p = plan("q_tpch_q17")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_tpch_q6 is a pure scan-filter-aggregate: all predicates pushed, no join") {
    // The Q6 probe exists to prove the scan shape: every predicate reaches
    // PushedFilters, the read schema is the 4 referenced columns, and the
    // whole plan is scan → agg (a join or extra shuffle here means the
    // declarative form degraded).
    val p = plan("q_tpch_q6")
    assert(!p.contains("Join"), p)
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(s"PushedFilters: \\[[^\\]]*$c".r.findFirstIn(p).isDefined,
        s"$c not pushed:\n$p")
    assert(!p.contains("l_tax"), s"read schema not pruned:\n$p")
  }

  test("q_tpch_q4 plans the EXISTS as a semi join, never a nested loop") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_tpch_q19 broadcasts the dimension side and pushes the disjunction per side") {
    val p = plan("q_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), p)
    // Catalyst derives per-side implications of the OR-of-ANDs: the
    // quantity ranges prune the fact scan, the brand/size ranges the dim
    assert("PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p).isDefined, p)
    assert("PushedFilters: \\[[^\\]]*p_brand".r.findFirstIn(p).isDefined, p)
  }

  test("q_tpch_q22 plans NOT EXISTS as an anti join and the threshold as one scalar subquery") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the global-average threshold runs ONCE: exactly one DISTINCT scalar
    // subquery instance; any further mentions must be ReusedSubquery
    // references to that same id (a duplicated or re-executed threshold
    // would mint additional subquery ids)
    val ids = "Subquery subquery#(\\d+)".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    assert(ids.size == 1, s"expected one distinct scalar subquery, got $ids\n$p")
  }

  test("multi-aggregate validation is a single pass (one aggregate subtree)") {
    val p = plan("q_validate_metrics")
    // expand-based distinct rewrite: one Expand, partial+final HashAggregate
    assert(p.contains("Expand") && p.contains("HashAggregate"))
  }

  test("q_vocab_topk_approx aggregates one mergeable sketch, not the vocabulary") {
    // the exact twin shuffles every distinct token; the sketch form must
    // plan a single global aggregate over partial sketch buffers — one
    // single-partition exchange of sketch bytes, no token-keyed shuffle
    val p = plan("q_vocab_topk_approx")
    assert(p.contains("approx_top_k"), s"expected the sketch aggregate:\n$p")
    assert(!p.contains("hashpartitioning(token"),
      s"sketch twin still shuffles the vocabulary by token:\n$p")
  }

  test("q_join_interval_binned hash-joins on the bin key, never nested-loop") {
    // the naive point-in-interval join has no equi key and plans BNLJ —
    // probe × build with no hash path; the bin quantization exists to
    // give the planner an equi key
    val p = plan("q_join_interval_binned")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"interval join went cartesian:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash join on the bin key:\n$p")
  }

  test("q_shard_order assigns shards with zero joins and no window") {
    // shard + position are pure id-hash projections: the only plan nodes
    // besides scan/project should be the one hash aggregate — any join or
    // window would mean assignment stopped being movement-free
    val p = plan("q_shard_order")
    assert(!p.contains("Join"), s"shard assignment must not join:\n$p")
    assert(!p.contains("Window"), s"shard assignment must not window:\n$p")
    // min_by over a string ordering key plans SortAggregate (no mutable
    // hash buffer for string extrema) — still partial+final around ONE
    // shard-keyed exchange, which is the scalable shape being pinned
    assert(p.contains("partial_"), s"aggregate must be partial+final:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"shard summary should shuffle exactly once:\n$p")
  }

  test("q_dedup_kept_best ranks within clusters, never globally") {
    val p = plan("q_dedup_kept_best")
    assert(!p.contains("Exchange SinglePartition"),
      s"cluster ranking plans a single-partition exchange (global window):\n$p")
  }

  test("q_winsorize_approx buffers a bounded sketch, never the exact value map") {
    // exact percentile is a TypedImperativeAggregate holding a per-group
    // value→count map — memory-unbounded in value cardinality; the
    // production winsorize dial must plan the approx sketch only
    val p = plan("q_winsorize_approx")
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"),
      s"expected the approx-percentile sketch aggregate:\n$p")
    val scrubbed =
      p.replace("percentile_approx", "").replace("approx_percentile", "")
    assert(!scrubbed.contains("percentile("),
      s"exact percentile leaked into the approx twin's plan:\n$p")
  }

  test("q_conformal_approx plans the sketch aggregate, never an " +
      "exact-rank window") {
    // the production q̂ dial must not re-introduce the per-type rank sort
    // it exists to avoid: no Window/row_number anywhere, sketch present
    val p = plan("q_conformal_approx")
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"),
      s"expected the approx-percentile sketch aggregate:\n$p")
    assert(!p.contains("Window") && !p.contains("row_number"),
      s"exact-rank window leaked into the approx conformal plan:\n$p")
  }

  test("q_perplexity_band_approx plans the sketch aggregate, never a " +
      "per-lang rank window") {
    // the production tertile dial must not re-introduce the per-lang rank
    // sort it exists to avoid (one hot language = one task's sort): no
    // Window/row_number anywhere above the checkpointed per-doc scores,
    // both tertile edges from the mergeable sketch
    val p = plan("q_perplexity_band_approx")
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"),
      s"expected the approx-percentile sketch aggregate:\n$p")
    assert(!p.contains("Window") && !p.contains("row_number"),
      s"exact-rank window leaked into the approx banding plan:\n$p")
  }

  test("q_decontam_bloom probes the bloom filter before the verify join") {
    // the codegen'd membership probe must sit in the plan as a Filter
    // below the exact join — that prefilter is the whole point of the twin
    val p = plan("q_decontam_bloom")
    assert(p.contains("bloom_might_contain"),
      s"bloom probe missing from the plan:\n$p")
    assert(p.contains("Join"), s"exact verify join missing:\n$p")
  }

  test("q_semdedup: broadcast-argmax assignment, per-cell pair join") {
    // the assignment stage (checkpointed inside the query, so pinned via
    // the library call): broadcast centroid fold — no shuffle, no window,
    // no join in the plan that computes cluster ids
    import org.apache.spark.sql.functions.col
    val asgnPlan = graft.ext.Similarity.assignClusters(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id",
        "embedding", col("vec_id") < 10)
      .queryExecution.executedPlan.toString()
    assert(!asgnPlan.contains("Window"),
      s"window in centroid assignment:\n$asgnPlan")
    assert(!asgnPlan.contains("ShuffleExchange") &&
      !asgnPlan.contains("Exchange hashpartitioning"),
      s"shuffle in centroid assignment:\n$asgnPlan")
    assert(asgnPlan.contains("BroadcastExchange") ||
      asgnPlan.contains("BroadcastNestedLoopJoin"),
      s"centroid set not broadcast:\n$asgnPlan")
    // the visible final stage: native dot product in the pair verify, no
    // cartesian anywhere, and — the scale property — the drop set never
    // joins back to the corpus: the report joins two CLUSTER-keyed
    // aggregates, so exactly one doc-level (per-row) aggregate feeds it
    // and the drop side is aggregated before the join
    val p = plan("q_semdedup")
    assert(p.contains("vec_dot"), s"native dot product missing:\n$p")
    assert(!p.contains("Window"), s"unexpected window in semdedup plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian pair join:\n$p")
    assert("partial_count".r.findAllIn(p).size >= 2,
      s"both report sides should pre-aggregate before the join:\n$p")
  }

  test("q_curation's visible stage broadcasts weights, never sorts") {
    // earlier stages sit behind checkpoints (their shapes are pinned by
    // their standalone twins: q_quality_filter, q_dedup_fingerprint,
    // q_decontam_ngram); the final mixture stage must broadcast the
    // per-source weights and stay sort- and cartesian-free
    val p = plan("q_curation")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"mixture weights not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in curation:\n$p")
    assert(!p.contains("Sort "), s"unexpected sort in curation plan:\n$p")
  }

  test("q_chunk_text is map-side only: zero exchanges") {
    val p = plan("q_chunk_text")
    assert(!p.contains("Exchange"),
      s"chunk materialization must run at scan speed, no shuffle:\n$p")
  }

  test("q_semantic_decontam broadcasts the eval side; only flagged rows " +
      "reach the final aggregate's exchange") {
    val p = plan("q_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval side not broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the post-filter agg exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
  }

  test("q_mixture_temperature broadcasts the per-source rates into the " +
      "membership scan") {
    val p = plan("q_mixture_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"rates must broadcast — the corpus is never shuffled to filter:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the join:\n$p")
  }

  test("q_boilerplate_shingles takes its top-k without a global sort") {
    val p = plan("q_boilerplate_shingles")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q_perplexity: no cartesian, no global sort; the 1-row total " +
      "broadcasts") {
    val p = plan("q_perplexity")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"corpus total not broadcast:\n$p")
  }

  test("q_mad_outliers: the per-group medians broadcast back; no window, " +
      "no sort of the event stream") {
    val p = plan("q_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"median/mad tables must broadcast:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q_decontam_kept: anti-join keeps the corpus unsorted and " +
      "cartesian-free") {
    val p = plan("q_decontam_kept")
    assert(p.contains("LeftAnti"), s"removal must be a LEFT ANTI join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q_event_transitions: user-keyed window, normalization over the " +
      "transition aggregate only") {
    val p = plan("q_event_transitions")
    assert(p.contains("Window"), p)
    // exactly two shuffles feed windows/aggs: the user-keyed lag window's
    // and the per-from normalization over the tiny transition table; the
    // raw stream is never range-sorted globally
    assert(!p.contains("Exchange SinglePartition"),
      s"global single-partition window would serialize the stream:\n$p")
  }

  test("q_dsir_weights broadcasts the bucket-ratio table; " +
      "q_dsir_selected takes its top-k via per-partition heaps") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=64-row ratio table must broadcast onto the bigram stream:\n$p")
    assert(!p.contains("rangepartitioning"), p)
    val sel = plan("q_dsir_selected")
    assert(sel.contains("TakeOrderedAndProject"),
      s"selection must not globally sort the pool:\n$sel")
  }

  test("q_bm25_topk and q_hybrid_rrf rank only after per-partition " +
      "top-k limits, with no cartesian product") {
    for (q <- Seq("q_bm25_topk", "q_hybrid_rrf")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q must limit via per-partition heaps before ranking:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("rangepartitioning"), p)
    }
  }

  test("q_psi_drift and q_psi_journal: one conditional-sum pass, totals " +
      "broadcast back, no window over the stream") {
    for (q <- Seq("q_psi_drift", "q_psi_journal")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: per-type totals must broadcast onto the bin table:\n$p")
      assert(!p.contains("Window"), s"$q: unexpected window:\n$p")
      assert(!p.contains("rangepartitioning"), p)
    }
  }

  test("q_hard_negatives broadcasts the query set and ranks under a " +
      "query-keyed window") {
    val p = plan("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast; the corpus streams:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(query_id"),
      s"rank window must partition by query_id:\n$p")
  }

  test("q_sim_ndcg joins the two rankings without a cartesian or a " +
      "global sort") {
    val p = plan("q_sim_ndcg")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q_spatial_join and q_entity_resolution block to equi-joins — " +
      "no cartesian, no nested loop") {
    for (q <- Seq("q_spatial_join", "q_entity_resolution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on its blocking key, not loop:\n$p")
    }
  }

  test("chunkcsv queries push their predicate into the DSv2 scan") {
    // fully pushed → the scan reports it and no Spark-side Filter remains
    // to re-evaluate it (the connector's row eval is the enforcement)
    val p = plan("q_chunkcsv_skip")
    assert("ChunkCsv\\[.*PushedFilters: \\[[^\\]]*o_orderdate".r
      .findFirstIn(p.replaceAll("\n", " ")).isDefined,
      s"o_orderdate not pushed to the chunkcsv scan:\n$p")
    assert(!"Filter .*o_orderdate".r.findFirstIn(p).isDefined,
      s"pushed filter re-evaluated post-scan:\n$p")
  }

  test("third-wave blocking queries stay on equi-joins — no cartesian, " +
      "no nested loop") {
    // DBSCAN's grid self-join, the phash band join, the truss wedge
    // joins, CF's basket self-join, BFS's frontier joins: each blocks to
    // an equi-key; a refactor that degrades one to a loop join would
    // still pass the oracle (same rows) while dying at scale.
    for (q <- Seq("q_dbscan", "q_multimodal_phash", "q_ktruss",
        "q_cf_item_cosine", "q_cf_recs", "q_graph_bfs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on its blocking key, not loop:\n$p")
    }
  }

  test("q_knn_shapley: one broadcast of the query side, rank windows " +
      "keyed by query, no cartesian") {
    val p = plan("q_knn_shapley")
    // the bounded query set rides a broadcast (cross shape is intended —
    // every train row scores every query), never a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // ranking windows partition by query — no single-task funnel (the
    // plan's one SinglePartition exchange is the 1-row global n count,
    // bounded by construction)
    assert(p.contains("hashpartitioning(query_id"), p)
    assert("Window \\[".r.findAllIn(p).size >= 2 &&
      !"Sort \\[sim[^\\n]*\\n[^\\n]*SinglePartition".r.findFirstIn(p)
        .isDefined, p)
  }

  test("q_rfm ranks through range repartitioning or the adaptive small " +
      "path — never an unbounded single-task window at scale") {
    // at sf0.001 the adaptive rank picks the single-task window (below
    // threshold) — pin that the ADAPTIVE entry is what runs by checking
    // the plan contains the quintile arithmetic, and that the base
    // aggregate reads only the three needed columns
    val p = plan("q_rfm")
    assert(!p.contains("o_comment") && !p.contains("o_orderpriority"), p)
  }

  test("q_ewma_control and q_wasserstein_drift window over hourly/" +
      "distinct-grain aggregates, partitioned by event_type") {
    for (q <- Seq("q_ewma_control", "q_wasserstein_drift")) {
      val p = plan(q)
      assert(p.contains("hashpartitioning(event_type"),
        s"$q window not keyed by event_type:\n$p")
      assert(!p.contains("SinglePartition, "),
        s"$q funnels through one partition:\n$p")
    }
  }

  test("q_sim_binary_topk: broadcast query signatures, rank window " +
      "keyed by query, no shuffled cartesian") {
    val p = plan("q_sim_binary_topk")
    // signatures are 16 bytes/row: the query side must ride a broadcast
    // (the cross shape is intended — every corpus row scores every query)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(query_id"), p)
  }

  test("q_skyline: bucketed window decomposition — the bucket-keyed " +
      "local pass runs parallel, and no quadratic self-join sneaks in") {
    val p = plan("q_skyline")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"skyline must stay on windows, not the quadratic definition:\n$p")
    assert(p.contains("hashpartitioning(bkt"),
      s"local front not keyed by price bucket:\n$p")
  }

  test("q_conformal_coverage: per-type stats ride broadcasts, rank " +
      "windows keyed by event_type — nothing global") {
    val p = plan("q_conformal_coverage")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("hashpartitioning(event_type"), p)
    assert(!p.contains("SinglePartition, "), p)
  }

  test("q_pack_chunks: the packing cumsum partitions by the shard key " +
      "and reads only the three needed columns") {
    val p = plan("q_pack_chunks")
    assert(p.contains("hashpartitioning(lang"), p)
    assert(!p.contains("SinglePartition, "), p)
    assert(!p.contains("n_chars") && !p.contains("source"), p)
  }

  test("the load's partitioned write needs no sort: load_date is a " +
      "constant") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-loadplan")
    val staging = tmp.resolve("staging").toString
    Seq((2020, " CA ", 12.5), (2021, "NY", 150.0))
      .toDF("yearstart", "locationabbr", "data_value")
      .write.parquet(staging)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.executedPlan.toString()
        if (p.contains("InsertIntoHadoopFsRelationCommand")) writes.add(p)
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.engine.Pipeline.load(spark, staging, tmp.resolve("out").toString)
      val deadline = System.nanoTime() + 10000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val p = writes.peek()
    assert(p != null, "the load's write was not observed")
    assert(p.contains("load_date"), p)
    assert(!p.contains("Sort ["), s"sort under the partitioned write:\n$p")
  }
}
