package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental maintenance of algebraic aggregates: per-batch PARTIALS
  * (sum/counts/min/max per group) journaled to parquet, combined into the
  * current report by re-aggregating the journal — sum of sums, sum of
  * counts, min of mins, max of maxs, avg = Σsum/Σ(non-null count).
  *
  * The 100 TB point: a daily report over an append-only fact should not
  * rescan history. Each batch contributes O(groups) journal rows once, at
  * batch time; the report then reads O(groups × batches) partial rows —
  * independent of raw row count — and [[compactJournal]] periodically
  * folds the partials back to O(groups), bounding both the report cost
  * and the journal's file count. This is the exact-arithmetic sibling of
  * [[graft.functions.Sketches]] (same shard-then-merge shape, exact
  * instead of approximate, limited to decomposable aggregates — a median
  * or COUNT(DISTINCT) does NOT journal this way; use the sketch).
  *
  * Two counts are journaled per group: `p_rows` (all rows, COUNT(*)) and
  * `p_cnt` (non-null values of the measure, COUNT(col)). SQL's AVG skips
  * NULLs, so a derived average must divide by the NON-NULL count —
  * dividing Σsum by Σrows silently deflates the mean the moment the
  * measure column has a null.
  *
  * DELETES: sum and the counts form an abelian group — a retraction
  * partial with negated values maintains them exactly. min/max do NOT
  * (deleting the current minimum says nothing about the next-smallest
  * without a rescan), so under deletes the journal's min_v/max_v are
  * conservative BOUNDS of the true extrema, not the extrema — RollupSpec
  * demonstrates the stale bound. If exact extrema under deletion matter,
  * recompute them from the base table (or keep a per-group heap outside
  * this module); do not trust a delete-bearing journal's min/max.
  *
  * Batch idempotence is the caller's contract (same seam as streaming
  * ingestion): re-journaling a batch appends duplicate partial rows.
  * [[report]] and [[compactJournal]] both collapse exact duplicates by
  * (group, batch tag) — the partials for a replayed batch are recomputed
  * from the same input and land identical, so the crash-between-journal-
  * and-marker seam of [[graft.streaming.Streams.journalBatchIdempotent]]
  * self-heals at read time instead of silently inflating totals.
  *
  * Reference tie-in: the validator recomputes COUNT/aggregate gates over
  * the WHOLE analytics table daily (`/root/reference/data_validator.py:64`)
  * — this is that recomputation made O(increment).
  */
object Rollup {

  private val PartialCols =
    Set("p_sum", "p_cnt", "p_rows", "p_min", "p_max", "batch")

  /** Reduce one batch to its per-group partials and append them to the
    * journal. One partial+final hash-agg over the batch, one tiny write.
    */
  def journalBatch(batch: DataFrame, journalDir: String,
      groupCols: Seq[String], valueCol: String, batchTag: String): Unit =
    batch.groupBy(groupCols.map(col): _*)
      .agg(sum(col(valueCol)).as("p_sum"),
        count(col(valueCol)).as("p_cnt"),
        count(lit(1)).as("p_rows"),
        min(col(valueCol)).as("p_min"), max(col(valueCol)).as("p_max"))
      .withColumn("batch", lit(batchTag))
      .write.mode("append").parquet(journalDir)

  /** A replayed batch re-journals byte-identical partial rows (same tag,
    * same deterministic aggregation of the same input); collapsing on
    * (group, batch) makes the at-least-once append seam harmless. A
    * same-tag duplicate with DIFFERENT partial values would mean two
    * different datasets were journaled under one tag — a caller bug this
    * cannot repair (one of the two is kept, arbitrarily).
    */
  private def dedupReplays(journal: DataFrame, groupCols: Seq[String])
      : DataFrame = journal.dropDuplicates(groupCols :+ "batch")

  /** Current report from the journal alone: raw data is never touched.
    * Columns: group cols + total / n (rows) / n_val (non-null values) /
    * min_v / max_v. AVG(valueCol) = total / n_val.
    */
  def report(spark: SparkSession, journalDir: String,
      groupCols: Seq[String]): DataFrame =
    dedupReplays(spark.read.parquet(journalDir), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("p_sum")).as("total"), sum(col("p_rows")).as("n"),
        sum(col("p_cnt")).as("n_val"),
        min(col("p_min")).as("min_v"), max(col("p_max")).as("max_v"))

  /** Mergeable QUANTILE state — the decomposability the scaladoc above
    * denies to medians, bought back with bounded error: freeze a global
    * boundary grid once (approx-quantiles of a reference sample /
    * first batch), then journal per-batch per-group BUCKET COUNTS.
    * Histograms over a fixed grid are sum-mergeable (union of batches =
    * sum of counts), so a standing per-group quantile estimate needs
    * only the journal — no rescan, same contract as [[journalBatch]].
    * Rank error ≤ one bucket's occupancy of the reference distribution
    * (1/buckets if the grid was equi-depth on similar data) plus
    * whatever the data drifts from the grid; re-grid (and re-journal
    * from the base table) when drift grows — the estimate degrades, it
    * never lies about which bucket ranks fell in. Same batch-idempotence
    * contract as [[journalBatch]]; [[quantileEstimate]] collapses
    * replayed (group, batch) duplicates the same way.
    */
  def journalHistogram(batch: DataFrame, journalDir: String,
      groupCols: Seq[String], valueCol: String, boundaries: Array[Double],
      batchTag: String): Unit =
    batch.select(
        groupCols.map(col) :+
          graft.functions.BucketExprs.quantileBucket(col(valueCol),
            boundaries).as("h_bucket"): _*)
      .filter(col("h_bucket").isNotNull) // NULL measures carry no rank
      .groupBy(groupCols.map(col) :+ col("h_bucket"): _*)
      .agg(count(lit(1)).as("h_cnt"))
      .withColumn("batch", lit(batchTag))
      .write.mode("append").parquet(journalDir)

  /** Per-group quantile estimates from the histogram journal alone:
    * cumulative bucket counts → first bucket reaching each target rank →
    * that bucket's UPPER boundary. Output: group cols + `p` (the
    * requested probability) + `est`. The per-group window runs over at
    * most `boundaries.length + 1` bucket rows — never raw data.
    */
  def quantileEstimate(spark: SparkSession, journalDir: String,
      groupCols: Seq[String], boundaries: Array[Double],
      probs: Seq[Double]): DataFrame = {
    val folded = spark.read.parquet(journalDir)
      .dropDuplicates(groupCols ++ Seq("h_bucket", "batch"))
      .groupBy(groupCols.map(col) :+ col("h_bucket"): _*)
      .agg(sum(col("h_cnt")).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("h_bucket"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val bounds = lit(boundaries)
    folded
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .crossJoin(broadcast(
        spark.range(1).select(explode(lit(probs.toArray)).as("p"))))
      .filter(col("cum") >= col("p") * col("total"))
      .groupBy(groupCols.map(col) :+ col("p"): _*)
      .agg(min(col("h_bucket")).as("qb"))
      // bucket b's upper boundary is boundaries(b) (0-based b < k);
      // the open top bucket k clamps to the last boundary
      .withColumn("est", element_at(bounds,
        (least(col("qb"), lit(boundaries.length.toLong - 1)) + 1)
          .cast("int")))
      .drop("qb")
  }

  /** Smoothed-PSI fold: input is a per-(group, bin) frame with long
    * counts `n_ref`/`n_cur`. Add-one smoothing over the OBSERVED bin
    * union keeps empty cells finite; the per-group totals ride a
    * broadcast; each term (p−q)·ln(p/q) ≥ 0, so the rounded sum is ≥ 0 by
    * construction. ONE definition shared by the batch drift monitors
    * (q_psi_drift, q_psi_journal) and the streaming
    * [[graft.streaming.Streams.startDriftMonitor]], so the three cannot
    * diverge in smoothing or rounding.
    */
  def psiReport(binned: DataFrame, groupCol: String,
      refTotalName: String, curTotalName: String): DataFrame = {
    val tot = binned.groupBy(col(groupCol))
      .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"),
        count(lit(1)).as("n_bins"))
    binned.join(broadcast(tot), groupCol)
      .withColumn("p_ref", (col("n_ref") + lit(1)).cast("double") /
        (col("t_ref") + col("n_bins")))
      .withColumn("p_cur", (col("n_cur") + lit(1)).cast("double") /
        (col("t_cur") + col("n_bins")))
      .groupBy(col(groupCol))
      .agg(round(sum((col("p_cur") - col("p_ref")) *
          log(col("p_cur") / col("p_ref"))), 6).as("psi"),
        max(col("n_bins")).as("n_bins"),
        sum(col("n_ref")).as(refTotalName),
        sum(col("n_cur")).as(curTotalName))
  }

  /** Exact Kolmogorov–Smirnov statistic per group over (group, value,
    * c_ref, c_cur) counts at the OBSERVED value grain: max |F_ref −
    * F_cur| via running-count windows partitioned by group, the CDF gap
    * rounded to 6dp per row (the rounded value IS the published metric),
    * verdict at the 0.1 rule. Groups observed on only one side are
    * dropped — KS is undefined against an empty sample, and dividing by
    * its zero total would poison the fold. ONE definition shared by the
    * batch query (q_ks_drift) and the streaming monitor
    * ([[graft.streaming.Streams.startKsW1Monitor]]) so the arithmetic
    * cannot diverge between them.
    */
  def ksReport(counts: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    counts
      .withColumn("cum_ref", sum(col("c_ref")).over(wOrd))
      .withColumn("cum_cur", sum(col("c_cur")).over(wOrd))
      .withColumn("n_ref", sum(col("c_ref")).over(wAll))
      .withColumn("n_cur", sum(col("c_cur")).over(wAll))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
      .withColumn("d", round(abs(
        col("cum_ref").cast("double") / col("n_ref") -
          col("cum_cur").cast("double") / col("n_cur")), 6))
      .groupBy(col(groupCol))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        max(col("d")).as("ks"))
      .withColumn("verdict",
        when(col("ks") > 0.1, "drifted").otherwise("stable"))
  }

  /** Exact Wasserstein-1 (earth mover) distance per group over (group,
    * cents, c_ref, c_cur) counts on an integer cents grid: W1 =
    * ∫|F_ref − F_cur| dx with each step's gap as the cross-multiplied
    * integer |cum_ref·N_cur − cum_cur·N_ref| scaled by the integer
    * distance to the next observed value, summed as longs (order-free),
    * ONE IEEE division at the end. The cross-multiply needs ~N² ≤ 2^63
    * headroom — beyond ~3e9 rows per side, divide per step in doubles
    * instead (the documented trade). Verdict normalizes by the observed
    * value RANGE (an absolute W1 threshold can't be right across
    * differently-scaled metrics). ONE definition shared by
    * q_wasserstein_drift and the streaming monitor.
    */
  def w1Report(counts: DataFrame, groupCol: String, centsCol: String)
      : DataFrame = {
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(centsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(groupCol)).orderBy(col(centsCol))
    val wAll = Window.partitionBy(col(groupCol))
    counts
      .withColumn("cum_ref", sum(col("c_ref")).over(wOrd))
      .withColumn("cum_cur", sum(col("c_cur")).over(wOrd))
      .withColumn("n_ref", sum(col("c_ref")).over(wAll))
      .withColumn("n_cur", sum(col("c_cur")).over(wAll))
      .withColumn("gap",
        coalesce(lead(col(centsCol), 1).over(wNext) - col(centsCol),
          lit(0L)))
      .filter(col("n_ref") > 0 && col("n_cur") > 0)
      .withColumn("term",
        abs(col("cum_ref") * col("n_cur") - col("cum_cur") * col("n_ref"))
          * col("gap"))
      .groupBy(col(groupCol))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        sum(col("term")).as("tsum"),
        (max(col(centsCol)) - min(col(centsCol))).as("range_cents"))
      .select(col(groupCol), col("n_ref"), col("n_cur"),
        round(col("tsum") /
          (col("n_ref") * col("n_cur") * lit(100.0)), 6).as("w1"),
        round(col("tsum") / (col("n_ref") * col("n_cur") *
          col("range_cents").cast("double")), 6).as("w1_rel"))
      .withColumn("verdict",
        when(col("w1_rel") > 0.1, "drifted").otherwise("stable"))
  }

  /** Per-group PSI between two journaled batches, from the histogram
    * journal ALONE — the composition q_psi_journal proves lossless:
    * drift monitoring without rescanning raw data. Replayed (group,
    * bucket, batch) duplicates collapse before folding (the
    * [[quantileEstimate]] guard). Fails loudly when a tag has no journal
    * rows — after [[compactJournal]] rewrites tags to `_compacted`, a
    * silently-empty reference side would smooth against zeros and report
    * spurious drift; keep the reference batch out of compaction windows.
    */
  def psiFromJournal(spark: SparkSession, journalDir: String,
      groupCol: String, refTag: String, curTag: String,
      refTotalName: String = "n_ref_rows",
      curTotalName: String = "n_cur_rows"): DataFrame = {
    val jAll = spark.read.parquet(journalDir)
    val j = jAll
      .filter(col("batch").isin(refTag, curTag))
      .dropDuplicates(Seq(groupCol, "h_bucket", "batch"))
      .localCheckpoint() // feeds the presence guard AND the fold
    val present = j.agg(
        sum(when(col("batch") === refTag, 1L).otherwise(0L)).as("nr"),
        sum(when(col("batch") === curTag, 1L).otherwise(0L)).as("nc"))
      .head()
    val tagMissing = Seq(0, 1).exists(i =>
      present.isNullAt(i) || present.getLong(i) == 0L)
    // A fully EMPTY journal is a degenerate-but-lawful corpus (a day with
    // no rows journals zero histogram rows) → empty monitor output. A tag
    // missing from a NON-empty journal is the dangerous case — compacted
    // away or never journaled — where a silently-empty reference side
    // would smooth against zeros and report spurious drift.
    if (tagMissing && !jAll.isEmpty) {
      val missing = Seq((refTag, 0), (curTag, 1)).collect {
        case (tag, i) if present.isNullAt(i) || present.getLong(i) == 0L =>
          tag
      }
      throw new IllegalArgumentException(
        s"psiFromJournal: no journal rows for batch tag(s) " +
          s"${missing.mkString(", ")} in $journalDir — compacted away, " +
          "or never journaled")
    }
    val g = j.groupBy(col(groupCol), col("h_bucket"))
      .agg(sum(when(col("batch") === refTag, col("h_cnt"))
          .otherwise(0L)).as("n_ref"),
        sum(when(col("batch") === curTag, col("h_cnt"))
          .otherwise(0L)).as("n_cur"))
    psiReport(g, groupCol, refTotalName, curTotalName)
  }

  /** Fold the whole journal into ONE partial row per group (tagged
    * `_compacted`), atomically replacing the journal directory — the
    * growth bound for a journal that appends one file-set per batch
    * forever: after compaction the report reads O(groups) rows and the
    * directory holds one file-set until batches accumulate again.
    *
    * Swap protocol mirrors [[Pipeline.compact]]: write `<dir>.compact-tmp`,
    * move live aside, move tmp into place, drop old — no point in the
    * sequence has the journal been deleted before its replacement is
    * complete. The streaming commit ledger (`_graft_commits/` markers from
    * [[graft.streaming.Streams.startRollupJournal]]) is carried through
    * verbatim: a replayed batchId after compaction must still be a no-op,
    * and the markers are exactly that claim.
    *
    * Single-writer contract: a journalBatch racing the swap can land its
    * append in the about-to-be-dropped live dir and be lost — compaction
    * belongs in the same maintenance window as the journal writer's
    * quiesce, the same discipline [[Pipeline.compact]] requires.
    */
  def compactJournal(spark: SparkSession, journalDir: String)
      : Pipeline.StageReport = {
    import org.apache.hadoop.fs.Path
    val pLive = new Path(journalDir)
    val pTmp = new Path(journalDir + ".compact-tmp")
    val pOld = new Path(journalDir + ".compact-old")
    val fsEntry = pLive.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Pipeline.recoverStrandedSwap(fsEntry, pLive, pOld) match {
      case Some(err) =>
        return Pipeline.StageReport("compact_journal", ok = false, err)
      case None => ()
    }
    val journal = spark.read.parquet(journalDir)
    // Histogram journals ([[journalHistogram]]) fold by (group, bucket);
    // algebraic journals ([[journalBatch]]) by group — detected from the
    // journal's own schema so ONE maintenance op serves both.
    val folded =
      if (journal.columns.contains("h_bucket")) {
        val groupCols = journal.columns
          .filterNot(Set("h_bucket", "h_cnt", "batch").contains).toSeq
        journal.dropDuplicates(groupCols ++ Seq("h_bucket", "batch"))
          .groupBy(groupCols.map(col) :+ col("h_bucket"): _*)
          .agg(sum(col("h_cnt")).as("h_cnt"))
      } else {
        val groupCols = journal.columns.filterNot(PartialCols.contains).toSeq
        dedupReplays(journal, groupCols)
          .groupBy(groupCols.map(col): _*)
          .agg(sum(col("p_sum")).as("p_sum"), sum(col("p_cnt")).as("p_cnt"),
            sum(col("p_rows")).as("p_rows"),
            min(col("p_min")).as("p_min"), max(col("p_max")).as("p_max"))
      }
    folded.withColumn("batch", lit("_compacted"))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(pTmp.toString)
    val fs = pLive.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledgerLive = new Path(pLive, "_graft_commits")
    if (fs.exists(ledgerLive)) {
      val ledgerTmp = new Path(pTmp, "_graft_commits")
      fs.mkdirs(ledgerTmp)
      fs.listStatus(ledgerLive).filter(_.isFile).foreach { st =>
        val in = fs.open(st.getPath)
        val body = try in.readAllBytes() finally in.close()
        val out = fs.create(new Path(ledgerTmp, st.getPath.getName), true)
        try out.write(body) finally out.close()
      }
    }
    fs.delete(pOld, true)
    if (!fs.rename(pLive, pOld))
      return Pipeline.StageReport("compact_journal", ok = false,
        "could not stage current journal aside; journal untouched")
    if (!fs.rename(pTmp, pLive)) {
      val restored = fs.rename(pOld, pLive)
      return Pipeline.StageReport("compact_journal", ok = false,
        if (restored) "swap failed; original restored"
        else s"swap failed AND restore failed — journal stranded at $pOld")
    }
    fs.delete(pOld, true)
    Pipeline.StageReport("compact_journal", ok = true,
      s"compacted $journalDir")
  }
}
