package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.engine.Commits

/** Structured Streaming surface (SURVEY §2.9 stretch goal): the streaming
  * restatement of the batch event-time queries in graft.queries.Events.
  * Verified by ScalaTest with MemoryStream (graft.streaming.StreamsSpec) —
  * streaming output has no DuckDB oracle.
  *
  * Design: every transform takes a DataFrame/Dataset and returns a lazy
  * plan, so the SAME code serves `spark.read` (batch backfill) and
  * `spark.readStream` (incremental) — the Kappa-style pattern. State is
  * bounded by watermarks: aggregation state for windows older than the
  * watermark is dropped, and sessions time out via event-time timers, so
  * executors hold O(open windows + open sessions), not history.
  */
object Streams {

  final case class Event(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: Timestamp)

  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  private[streaming] final case class SessionState(start: Timestamp,
      end: Timestamp, n: Long, total: Double)

  /** File-based streaming source over an events directory (the streaming
    * twin of Sources.events; schema must be known up front for streams).
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, " +
        "value DOUBLE, ts TIMESTAMP")
      .parquet(dir)

  /** Tumbling event-time window counts with a watermark: late rows beyond
    * `watermarkDelay` are dropped and window state for closed windows is
    * reclaimed. Works in batch mode too (watermark is a no-op there).
    */
  def tumblingAgg(events: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("total"))

  /** Sliding-window variant (each event lands in windowDur/slide windows). */
  def slidingAgg(events: DataFrame, windowDur: String = "1 hour",
      slide: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming LLM-text scrub: token/language/quality stats + PII
    * redaction as one STATELESS projection — no state, no watermark, runs
    * unchanged on `readStream` or `read` (the Kappa property the whole
    * Text surface inherits because it is built from per-row expressions).
    */
  def textScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.ext.Text.nTokens(col("text")).as("n_tokens"),
      graft.ext.Text.langId(col("text")).as("lang_id"),
      graft.ext.Text.qualityScore(col("text")).as("quality"),
      graft.ext.Text.redactPii(col("text")).as("clean_text"))

  /** Streaming exact dedup on a key: state is bounded by the watermark
    * (`dropDuplicatesWithinWatermark` evicts seen-keys once they age out),
    * so the dedup that would need unbounded history in a naive design runs
    * with O(watermark-window) state — the streaming twin of the batch
    * fingerprint dedup.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: join the stream against a slow-changing
    * dimension, broadcast — no streaming state, no watermark, and the
    * stream side never shuffles. The static plan re-EXECUTES per
    * micro-batch, but a file-based dim's file LISTING is fixed at relation
    * resolution: new dim files are not picked up until the caller refreshes
    * the relation (`spark.catalog.refreshByPath`/`refreshTable`, or a
    * catalog table whose metadata tracks files). Content changes inside
    * already-listed files do surface.
    */
  def enrichWithStatic(stream: DataFrame, static: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(static), keys, "left")

  /** Stream-stream inner join with bounded state: clicks joined to views
    * of the same user within `within` AFTER the view. Both sides carry
    * watermarks and the join condition carries the time-range bound, so
    * each side's state is evicted once the watermark passes its
    * join-reachable horizon — without the range condition the state is
    * UNBOUNDED (Spark cannot know when a future match becomes impossible),
    * which is the classic stream-join scale trap.
    */
  def joinEventStreams(left: DataFrame, right: DataFrame,
      watermarkDelay: String = "10 minutes",
      within: String = "15 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id").as("left_id"),
        col("ts").as("left_ts"))
    val r = right.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("r_user_id"),
        col("event_id").as("right_id"), col("ts").as("right_ts"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("left_id"), col("right_id"),
        col("left_ts"), col("right_ts"))
  }

  /** The wiring every `start*` below shares: an append-mode query whose
    * micro-batches run `step`, checkpointed at `checkpointDir`.
    */
  private def startBatches(stream: DataFrame, checkpointDir: String)(
      step: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .start()

  /** Streaming ingestion into the incremental analytics table: each
    * micro-batch runs the SAME cleaning+append+sidecar step as the batch
    * [[graft.engine.Pipeline.loadIncremental]] (via foreachBatch), so a
    * streaming-ingested table is byte-identical to a batch-ingested one
    * for the same batches — and every batch reader (readLatest, readTable,
    * compact, the partition-pruned daily scan) works on it unchanged.
    * `at` maps the micro-batch id to the injected load timestamp (tests
    * pass fixed instants; production leaves None for wall clock).
    *
    * foreachBatch is at-least-once, so the append is guarded by a
    * per-batch commit ledger ([[appendBatchIdempotent]]): a replayed
    * batchId is skipped instead of appended twice.
    */
  def startIncrementalLoad(stream: DataFrame, analyticsDir: String,
      checkpointDir: String,
      at: Long => Option[Timestamp] = _ => None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(stream, checkpointDir) { (batch, batchId) =>
      appendBatchIdempotent(batch, analyticsDir, batchId, at(batchId))
    }

  /** Streaming incremental-aggregate materialization: each micro-batch is
    * reduced to its per-group algebraic partials and appended to a
    * [[graft.engine.Rollup]] journal, so the standing report over the
    * stream is `Rollup.report` — O(groups × batches) to read, raw rows
    * never re-scanned. Guarded by the same commit-ledger idempotence as
    * [[startIncrementalLoad]]: re-journaling a replayed batchId would
    * DOUBLE-COUNT its partials (the seam Rollup's scaladoc assigns to the
    * caller), so under at-least-once foreachBatch the marker is what makes
    * the journal exactly-once.
    */
  def startRollupJournal(stream: DataFrame, journalDir: String,
      checkpointDir: String, groupCols: Seq[String], valueCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(stream, checkpointDir) { (batch, batchId) =>
      journalBatchIdempotent(batch, journalDir, batchId, groupCols,
        valueCol)
    }

  /** The ledger-guarded journal step of [[startRollupJournal]]. The
    * marker is [[graft.engine.Commits.once]]'s, beside the journal and
    * invisible to its parquet readers; the residual
    * crash-between-journal-and-marker seam duplicates ONE batch's
    * partials on replay, and
    * [[graft.engine.Rollup.report]] SELF-HEALS it: the replayed partials
    * are byte-identical (same tag, same deterministic agg of the same
    * input), and the report collapses duplicates by (group, batch tag)
    * before combining — the seam costs a redundant file, never an
    * inflated total.
    */
  private[graft] def journalBatchIdempotent(batch: DataFrame,
      journalDir: String, batchId: Long, groupCols: Seq[String],
      valueCol: String): Unit =
    Commits(batch.sparkSession, journalDir).once(journalDir, batchId) {
      graft.engine.Rollup.journalBatch(batch, journalDir, groupCols,
        valueCol, s"b$batchId")
      None
    }

  /** Standing EWMA spike monitor — the streaming twin of the batch
    * q_ewma_control: each micro-batch (1) appends its per-(type, hour)
    * RAW value-sum partial to an hourly journal under the commit-ledger
    * guard (partials stay unrounded doubles — the cents rounding happens
    * once, at report time, so batch-boundary placement cannot perturb
    * the hourly totals by a rounded cent), then (2) recomputes the full
    * EWMA chart FROM THE JOURNAL ALONE: hourly partials collapse by
    * (type, hour, batch tag) first — the crash-between-journal-and-
    * marker seam duplicates one batch's byte-identical partials on
    * replay, and the dedup self-heals it ([[startRollupJournal]]'s
    * posture) — then the exact dyadic-weight arithmetic of the batch
    * query runs over the (types × hours)-sized totals. No raw data is
    * rescanned; the verdict set lands with mode=overwrite under
    * `verdictDir/b<batchId>`, so an at-least-once replay recomputes
    * byte-identical output onto the same path.
    */
  def startEwmaMonitor(stream: DataFrame, journalDir: String,
      verdictDir: String, checkpointDir: String, typeCol: String,
      tsCol: String, valueCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(stream, checkpointDir) { (batch, batchId) =>
      ewmaBatchIdempotent(batch, journalDir, verdictDir, batchId,
        typeCol, tsCol, valueCol)
    }

  private[graft] def ewmaBatchIdempotent(batch: DataFrame,
      journalDir: String, verdictDir: String, batchId: Long,
      typeCol: String, tsCol: String, valueCol: String): Unit = {
    val spark = batch.sparkSession
    Commits(spark, journalDir).once(journalDir, batchId) {
      batch
        .groupBy(col(typeCol).as("event_type"),
          date_trunc("hour", col(tsCol)).as("h"))
        .agg(sum(col(valueCol)).as("vsum"))
        .withColumn("_tag", lit(s"b$batchId"))
        .write.mode("append").parquet(journalDir)
      None
    }
    ewmaFromJournal(spark, journalDir)
      .write.mode("overwrite").parquet(s"$verdictDir/b$batchId")
  }

  /** The chart as a pure function of the journal — hourly totals from
    * the deduped partials, then EXACTLY the batch query's arithmetic:
    * cents = floor(round(Σ, 2)·100 + 0.5); num/den = dyadic-weight
    * integer window sums over the trailing 8 hours; spike = integer
    * cross-multiplication against 2× the previous hour's EWMA.
    *
    * Replay dedup is STRUCTURAL, not by value: a crash between the
    * journal append and the commit marker replays the batch, and the
    * replayed partial can differ in final ulps (double summation is
    * partition-order dependent), so collapsing with first() would pick
    * nondeterministically. Instead each (type, hour, tag) keeps the
    * partial from the lexicographically-first journal file — min_by on
    * the file path — making the chart a deterministic function of the
    * journal directory's contents regardless of read parallelism.
    */
  private[graft] def ewmaFromJournal(
      spark: org.apache.spark.sql.SparkSession, journalDir: String)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val hourly = spark.read.parquet(journalDir)
      .withColumn("_file", input_file_name())
      .groupBy(col("event_type"), col("h"), col("_tag"))
      .agg(min_by(col("vsum"), col("_file")).as("vsum"))
      .groupBy(col("event_type"), col("h"))
      .agg(floor(round(sum(col("vsum")), 2) * 100 + 0.5).as("cents"))
    def lagged(i: Int) =
      if (i == 0) col("cents") else lag(col("cents"), i).over(w)
    val num = (0 to 7).map(i =>
      coalesce(lagged(i), lit(0L)) * lit(1L << (7 - i))).reduce(_ + _)
    val den = (0 to 7).map(i =>
      when(lagged(i).isNotNull, lit(1L << (7 - i))).otherwise(lit(0L)))
      .reduce(_ + _)
    hourly
      .withColumn("num", num).withColumn("den", den)
      .withColumn("num_prev", lag(col("num"), 1).over(w))
      .withColumn("den_prev", lag(col("den"), 1).over(w))
      .select(col("event_type"), col("h"), col("cents"),
        when(col("den") > 0, round(col("num") / (col("den") * 100.0), 4))
          .otherwise(lit(null).cast("double")).as("ewma"),
        coalesce(col("cents") * col("den_prev") > col("num_prev") * 2,
          lit(false)).as("spike"))
  }

  /** Standing KS + Wasserstein-1 drift monitor — completes the streaming
    * drift trio (PSI streams via [[startDriftMonitor]], EWMA via
    * [[startEwmaMonitor]]; KS and W1 previously required a batch pass).
    * Each micro-batch appends its per-(type, value, ref/cur period)
    * COUNTS to a journal under the commit-ledger guard; both verdicts
    * are then recomputed FROM THE JOURNAL ALONE with the exact batch
    * arithmetic ([[graft.engine.Rollup.ksReport]] /
    * [[graft.engine.Rollup.w1Report]] — the same single definitions
    * q_ks_drift and q_wasserstein_drift run), never rescanning the
    * stream: the read set is O(types × observed values × batches) per
    * trigger regardless of stream volume.
    *
    * Unlike the EWMA value journal, these partials are INTEGER counts —
    * deterministic under any partition order — so a
    * crash-between-journal-and-marker replay appends byte-identical
    * rows and the structural collapse (max over the (key, tag) group)
    * is exact with no ulp seam at all. Verdicts land with
    * mode=overwrite under `verdictDir/ks/b<batchId>` and
    * `verdictDir/w1/b<batchId>`.
    *
    * `cut` is the fixed ref/cur boundary timestamp (`yyyy-MM-dd
    * HH:mm:ss`) — the same dial the batch queries hardcode; rows with a
    * NULL timestamp count toward neither side (mirroring the batch
    * conditional sums, where NULL fails both `<` and `>=`).
    */
  def startKsW1Monitor(stream: DataFrame, journalDir: String,
      verdictDir: String, checkpointDir: String, typeCol: String,
      tsCol: String, valueCol: String, cut: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(stream, checkpointDir) { (batch, batchId) =>
      ksW1BatchIdempotent(batch, journalDir, verdictDir, batchId,
        typeCol, tsCol, valueCol, cut)
    }

  private[graft] def ksW1BatchIdempotent(batch: DataFrame,
      journalDir: String, verdictDir: String, batchId: Long,
      typeCol: String, tsCol: String, valueCol: String, cut: String)
      : Unit = {
    val spark = batch.sparkSession
    Commits(spark, journalDir).once(journalDir, batchId) {
      batch
        .groupBy(col(typeCol).as("event_type"),
          col(valueCol).as("value"),
          (col(tsCol) < to_timestamp(lit(cut))).as("is_ref"))
        .agg(count(lit(1)).as("n"))
        .filter(col("is_ref").isNotNull) // NULL ts: neither period
        .withColumn("_tag", lit(s"b$batchId"))
        .write.mode("append").parquet(journalDir)
      None
    }
    val (ks, w1) = ksW1FromJournal(spark, journalDir)
    ks.write.mode("overwrite").parquet(s"$verdictDir/ks/b$batchId")
    w1.write.mode("overwrite").parquet(s"$verdictDir/w1/b$batchId")
  }

  /** Both verdicts as pure functions of the journal: collapse replayed
    * (type, value, period, tag) duplicates (byte-identical integers —
    * max is exact), fold tags into per-(type, value) ref/cur counts,
    * then run the SHARED report folds. W1's cents grid derives from the
    * value grain by exact rollup (cents = floor(value·100 + .5) is a
    * pure function of the journal key, so counts sum losslessly).
    */
  private[graft] def ksW1FromJournal(
      spark: org.apache.spark.sql.SparkSession, journalDir: String)
      : (DataFrame, DataFrame) = {
    val g = spark.read.parquet(journalDir)
      .groupBy(col("event_type"), col("value"), col("is_ref"),
        col("_tag"))
      .agg(max(col("n")).as("n"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("is_ref"), col("n")).otherwise(0L)).as("c_ref"),
        sum(when(!col("is_ref"), col("n")).otherwise(0L)).as("c_cur"))
      .localCheckpoint() // feeds both report folds
    val ks = graft.engine.Rollup.ksReport(g, "event_type", "value")
    val cents = g
      .withColumn("cents", floor(col("value") * 100 + 0.5))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(col("c_ref")).as("c_ref"), sum(col("c_cur")).as("c_cur"))
    val w1 = graft.engine.Rollup.w1Report(cents, "event_type", "cents")
    (ks, w1)
  }

  /** Streaming twin of [[graft.engine.Rollup.journalHistogram]]: each
    * micro-batch's per-group bucket counts (over the FROZEN boundary
    * grid — the grid is state decided before the stream starts) append
    * to the histogram journal under the same commit-ledger guard as
    * [[startRollupJournal]], so standing per-group quantile estimates
    * ([[graft.engine.Rollup.quantileEstimate]]) are maintained from the
    * stream without ever rescanning it.
    */
  def startHistogramJournal(stream: DataFrame, journalDir: String,
      checkpointDir: String, groupCols: Seq[String], valueCol: String,
      boundaries: Array[Double])
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(stream, checkpointDir) { (batch, batchId) =>
      histogramBatchIdempotent(batch, journalDir, batchId, groupCols,
        valueCol, boundaries)
    }

  /** Ledger-guarded step of [[startHistogramJournal]] — marker contract
    * identical to [[journalBatchIdempotent]], and the residual
    * crash-between-journal-and-marker seam self-heals the same way
    * (identical replayed rows collapse by (group, bucket, batch) in
    * [[graft.engine.Rollup.quantileEstimate]]).
    */
  private[graft] def histogramBatchIdempotent(batch: DataFrame,
      journalDir: String, batchId: Long, groupCols: Seq[String],
      valueCol: String, boundaries: Array[Double]): Unit =
    Commits(batch.sparkSession, journalDir).once(journalDir, batchId) {
      graft.engine.Rollup.journalHistogram(batch, journalDir, groupCols,
        valueCol, boundaries, s"b$batchId")
      None
    }

  /** Standing drift monitor — the composition `q_psi_journal` proves
    * lossless, wired end-to-end: each micro-batch (1) appends its
    * per-group histogram to the journal under the commit ledger (exactly
    * [[startHistogramJournal]]'s step) and (2) emits a per-group PSI
    * VERDICT — (group, psi, n_bins, totals, drifted) — comparing the
    * batch's journaled histogram against the designated reference batch,
    * computed FROM THE JOURNAL ALONE
    * ([[graft.engine.Rollup.psiFromJournal]], the same code path the
    * batch query runs). No raw data is rescanned, ever: the monitor's
    * read set is O(groups × bins) per trigger regardless of stream
    * volume.
    *
    * Idempotence: the histogram append is ledger-guarded; the verdict is
    * a deterministic function of the journal and lands with
    * mode=overwrite under `verdictDir/b<batchId>` — an at-least-once
    * replay recomputes byte-identical output onto the same path.
    *
    * `drifted` applies the industry-standard PSI > threshold rule
    * (default 0.2) to the 6dp-rounded psi — the rounded value IS the
    * published metric (both engines reproduce it bit-for-bit), so the
    * verdict is reproducible anywhere the journal is.
    */
  def startDriftMonitor(stream: DataFrame, journalDir: String,
      verdictDir: String, checkpointDir: String, groupCol: String,
      valueCol: String, boundaries: Array[Double], refBatchId: Long = 0L,
      threshold: Double = 0.2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(stream, checkpointDir) { (batch, batchId) =>
      driftBatchIdempotent(batch, journalDir, verdictDir, batchId,
        groupCol, valueCol, boundaries, refBatchId, threshold)
    }

  /** The per-batch step of [[startDriftMonitor]]. The reference batch only
    * journals (a distribution is not drift against itself).
    */
  private[graft] def driftBatchIdempotent(batch: DataFrame,
      journalDir: String, verdictDir: String, batchId: Long,
      groupCol: String, valueCol: String, boundaries: Array[Double],
      refBatchId: Long, threshold: Double): Unit = {
    histogramBatchIdempotent(batch, journalDir, batchId, Seq(groupCol),
      valueCol, boundaries)
    if (batchId != refBatchId)
      graft.engine.Rollup.psiFromJournal(batch.sparkSession, journalDir,
          groupCol, s"b$refBatchId", s"b$batchId")
        .withColumn("drifted", col("psi") > threshold)
        .write.mode("overwrite").parquet(s"$verdictDir/b$batchId")
  }

  /** Streaming incremental near-dup maintenance — the continuous-ingest
    * twin of the batch band journal (`q_dedup_incremental`): each arriving
    * micro-batch of documents is banded (MinHash k=8, 4×2 LSH) and ONLY
    * pairs involving a new doc are emitted — one band join of the batch
    * against the journal ∪ itself, O(batch × bands) per trigger,
    * independent of corpus history. State is plain parquet under
    * `stateDir/bands/<tag>` and `stateDir/pairs/<tag>`, one subdir per
    * micro-batch.
    *
    * Idempotence is BY PATH, not by ledger arithmetic: a batch's bands and
    * pairs are deterministic functions of (batch content, strictly-earlier
    * tags), and both land with mode=overwrite under the batch's own tag —
    * an IN-ORDER replay recomputes byte-identical output onto the same
    * paths and converges. (An out-of-order replay — batch N rerun after
    * N+1 landed — is also safe: the prior-band read filters to numeric
    * tags < batchId, so it sees exactly the state the original run saw.)
    * Excluding the current-and-later tags also means a crash between the
    * two writes cannot pair the batch against its own half-written state.
    * The trailing marker only short-circuits clean replays.
    *
    * The union of `pairs/` subdirs equals the full-corpus candidate set
    * (the decomposition the batch oracle pins), so downstream
    * verify/cluster stages read one directory and never rescan history.
    */
  def startDedupJournal(docs: DataFrame, stateDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      dedupBatchIdempotent(batch, stateDir, batchId, idCol, textCol)
    }

  /** The per-batch step of [[startDedupJournal]]. */
  private[graft] def dedupBatchIdempotent(batch: DataFrame, stateDir: String,
      batchId: Long, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    import graft.ext.Dedup
    val spark = batch.sparkSession
    val tag = s"b$batchId"
    val commits = Commits(spark, stateDir)
    commits.once(stateDir, batchId) {
      val newBands = Dedup.lshBands(
        Dedup.minhashSignatures(batch, idCol, textCol), idCol)
        .localCheckpoint() // feeds the pair join AND the journal write
      val bandsRoot = new org.apache.hadoop.fs.Path(stateDir, "bands")
      // Strictly-earlier batches only: a replay of batch N after N+1 has
      // landed (manual backfill, marker deleted out of band) must not pair
      // against FUTURE bands — that would write extra pairs under pairs/bN
      // and duplicate them across journal subdirs. Filtering to numeric
      // ids < batchId also self-excludes the current tag.
      val priorTags =
        if (commits.fs.exists(bandsRoot))
          commits.fs.listStatus(bandsRoot).toSeq.map(_.getPath.getName)
            .filter(t => batchTag(t).exists(_ < batchId))
        else Seq.empty
      val oldBands =
        if (priorTags.isEmpty) newBands.filter(lit(false))
        else spark.read.parquet(
          priorTags.map(t => s"$stateDir/bands/$t"): _*)
      val pairs = Dedup.incrementalCandidatePairs(oldBands, newBands, idCol)
      pairs.write.mode("overwrite").parquet(s"$stateDir/pairs/$tag")
      newBands.write.mode("overwrite").parquet(s"$stateDir/bands/$tag")
      None
    }
  }

  /** [[graft.engine.Commits.batchTag]]: the numeric id of a journal
    * batch-dir name `b<id>`.
    */
  private[graft] def batchTag(t: String): Option[Long] = Commits.batchTag(t)

  /** Canonical-URL keep-first dedup state, maintained incrementally over
    * arriving crawl batches — the streaming twin of `q_dedup_url` (the
    * family convention: every dedup/decontam/drift operator ships a
    * journal monitor). Each micro-batch canonicalizes its URLs
    * ([[graft.queries.Docs.urlCanon]], the SAME codegen'd projection the
    * batch query runs) and journals the batch-local partial aggregate
    * (canon_url → n_docs, min id) under `urls/b{batchId}` behind a
    * commit marker, so an at-least-once replay of a committed batch is a
    * no-op. The fold is mergeable by construction — count sums and min
    * of mins — so [[urlDedupFromJournal]] over committed batches equals
    * the one-shot query over the union of the batches' rows (pinned in
    * StreamsSpec). Scale shape: the batch agg is map-side combinable on
    * the canon string; the journal holds one row per distinct canonical
    * URL per batch, never raw URLs twice.
    */
  def startUrlDedupJournal(docs: DataFrame, stateDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      urlCol: String = "url")
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      urlDedupBatchIdempotent(batch, stateDir, batchId, idCol, urlCol)
    }

  /** The per-batch step of [[startUrlDedupJournal]]. */
  private[graft] def urlDedupBatchIdempotent(batch: DataFrame,
      stateDir: String, batchId: Long, idCol: String = "doc_id",
      urlCol: String = "url"): Unit =
    Commits(batch.sparkSession, stateDir).once(stateDir, batchId) {
      batch
        .select(col(idCol).as("first_doc"),
          graft.queries.Docs.urlCanon(col(urlCol)).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("first_doc")).as("first_doc"))
        .write.mode("overwrite").parquet(s"$stateDir/urls/b$batchId")
      None
    }

  /** Fold the committed journal into the keep-first answer: reads the
    * `_compacted` snapshot (when one exists) plus every batch dir whose
    * commit marker exists (a crash between the parquet write and the
    * marker leaves a half-batch that a replay will overwrite — reading
    * it would double-count), then merges the partial aggregates. Equals
    * the one-shot `q_dedup_url` over the union of the committed
    * batches' rows — compaction only re-associates the mergeable fold
    * (count sums, min of mins).
    */
  def urlDedupFromJournal(spark: SparkSession, stateDir: String)
      : DataFrame = {
    // the snapshot folds only already-committed batches, so it carries no
    // marker of its own; batch dirs still require one
    val dirs = Commits(spark, stateDir)
      .committedTags(stateDir, "urls", Set("_compacted"))
    require(dirs.nonEmpty,
      s"no committed url-dedup batches under $stateDir/urls")
    spark.read.parquet(dirs.map(t => s"$stateDir/urls/$t"): _*)
      .groupBy(col("canon_url"))
      .agg(sum(col("n_docs")).as("n_docs"),
        min(col("first_doc")).as("first_doc"))
  }

  /** Fold the whole committed URL journal into ONE `_compacted` partial,
    * atomically replacing `stateDir/urls` — the growth bound for a
    * journal that otherwise appends one parquet dir per batch forever
    * ([[graft.engine.Rollup.compactJournal]]'s pattern on the
    * per-batch-dir layout): after the swap, [[urlDedupFromJournal]]
    * reads one snapshot dir plus whatever batches land later, and the
    * fold is unchanged because the partials are mergeable by
    * construction. The commit markers live OUTSIDE the swapped dir (in
    * `stateDir`'s ledger) and are untouched, so an
    * at-least-once replay of a compacted batchId remains a no-op — the
    * marker is exactly that claim. An UNcommitted half-batch present at
    * compaction time is dropped with the old dir; its replay recomputes
    * it from scratch, which is what a replay of an uncommitted batch
    * does anyway. Single-writer contract as Rollup.compactJournal:
    * compaction belongs in the journal writer's quiesce window.
    */
  def compactUrlDedupJournal(spark: SparkSession, stateDir: String)
      : graft.engine.Pipeline.StageReport = {
    val live = s"$stateDir/urls"
    val err = Commits(spark, stateDir).swap(live, ".compact") { tmp =>
      // Materializes the fold BEFORE any rename: the write below executes
      // the read of the live dir into the tmp snapshot.
      urlDedupFromJournal(spark, stateDir).coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$tmp/_compacted")
    }
    graft.engine.Pipeline.StageReport("compact_url_journal",
      ok = err.isEmpty, err.getOrElse(s"compacted $live"))
  }

  /** Persist the static language-ID model — the broadcast side of
    * [[startLangidMonitor]]: the unigram-NB weight table and per-lang
    * constants trained by the SAME
    * [[graft.queries.Docs.langidModel]] pipeline the batch
    * `q_langid_nb`/`q_langid_confusion` rows run, from (lang, text)
    * training rows. Rewrite on retrain — that starts a new monitoring
    * epoch (confusion partials are defined relative to one model).
    */
  def writeLangidModel(train: DataFrame, modelDir: String): Unit = {
    val (w, lc) = graft.queries.Docs.langidModel(
      train.select(col("lang").as("mlang"), col("text")),
      graft.queries.Docs.langidUnigramFeats)
    w.write.mode("overwrite").parquet(s"$modelDir/weights")
    lc.write.mode("overwrite").parquet(s"$modelDir/consts")
  }

  /** Streaming language-ID confusion monitor — the continuous-ingest
    * twin of `q_langid_confusion` (the family convention: every
    * classifier/dedup/drift operator ships a journal monitor). Each
    * arriving micro-batch of documents is scored against the STATIC
    * model tables ([[writeLangidModel]]) by the same
    * [[graft.queries.Docs.langidScore]] composition the batch query
    * runs — per-doc argmax is a pure function of (doc, model), so the
    * per-batch (lang, pred_lang) count partials are mergeable by
    * construction and [[langidConfusionFromJournal]]'s fold equals the
    * one-shot confusion over the union of the batches (pinned in
    * StreamsSpec). Idempotence is the dedup journal's marker ledger:
    * a committed batch replays as a no-op. Scale shape: per trigger the
    * model broadcasts (Zipf-small), the batch shuffles once on doc_id
    * for the per-doc agg, and the journal holds O(L²) rows per batch —
    * never documents.
    */
  def startLangidMonitor(docs: DataFrame, modelDir: String,
      stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      langidBatchIdempotent(batch, modelDir, stateDir, batchId)
    }

  /** The per-batch step of [[startLangidMonitor]]. */
  private[graft] def langidBatchIdempotent(batch: DataFrame,
      modelDir: String, stateDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    Commits(spark, stateDir).once(stateDir, batchId) {
      val w = spark.read.parquet(s"$modelDir/weights")
      val lc = spark.read.parquet(s"$modelDir/consts")
      graft.queries.Docs.langidScore(batch, w, lc,
          graft.queries.Docs.langidUnigramFeats,
          graft.queries.Docs.langidUnigramNFeats)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(s"$stateDir/confusion/b$batchId")
      None
    }
  }

  /** Fold the committed confusion journal into the running matrix —
    * count sums per (lang, pred_lang), with the agree flag recomputed
    * on the folded rows. Equals the one-shot `q_langid_confusion` over
    * the union of the committed batches' documents under the same
    * model.
    */
  def langidConfusionFromJournal(spark: SparkSession, stateDir: String)
      : DataFrame = {
    val committed = Commits(spark, stateDir)
      .committedTags(stateDir, "confusion", Set.empty)
    require(committed.nonEmpty,
      s"no committed langid confusion batches under $stateDir/confusion")
    spark.read.parquet(committed.map(t => s"$stateDir/confusion/$t"): _*)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(sum(col("n_docs")).as("n_docs"))
      .withColumn("agree", col("lang") === col("pred_lang"))
  }

  /** Materialize the distinct eval-side 5-gram set as 8-byte xxhash64 keys
    * — the static reference relation [[startDecontamMonitor]] probes. The
    * gram TEXT never lands: band membership/equality only needs an
    * injective-in-practice key (the dedup family's r13 shuffle-payload
    * discipline), and a collision can only ADD a flag candidate. Rewrite
    * this whenever the eval suite changes — that starts a new monitoring
    * epoch (flags are defined relative to one eval set).
    */
  def writeEvalGrams(evalDocs: DataFrame, outDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.ext.Dedup.docShingles(evalDocs, idCol, textCol)
      .select(xxhash64(col("shingle")).as("gh")).distinct()
      .write.mode("overwrite").parquet(outDir)

  /** Streaming decontamination — the continuous-ingest twin of the batch
    * n-gram sweep (`q_decontam_ngram`): each arriving micro-batch of TRAIN
    * documents is shingled and probed against the static eval-gram set,
    * emitting per-doc hit counts under `flagDir/b<batchId>`. Per-trigger
    * work is O(batch grams), independent of corpus history — a quarantine
    * consumer unions `flagDir/` and never rescans the corpus.
    *
    * Idempotence is BY PATH with no ledger, the [[startCdcMerge]]
    * structural contrast: a batch's flags are a pure function of (batch
    * content, eval set) — no cross-batch state at all, unlike the dedup
    * journal's prior-bands read — so an at-least-once replay recomputes
    * byte-identical output onto the batch's own overwritten path.
    *
    * At 100 TB the per-batch probe inherits the batch sweep's scale path:
    * the eval set joins as its measured size dictates (broadcast when
    * small), and the bloom prefilter (`q_decontam_bloom`) drops in ahead
    * of the join unchanged when the eval suite outgrows it.
    */
  def startDecontamMonitor(docs: DataFrame, evalGramsDir: String,
      flagDir: String, checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(docs, checkpointDir) { (batch, batchId) =>
      decontamBatchIdempotent(batch, evalGramsDir, flagDir, batchId,
        idCol, textCol)
    }

  /** The per-batch step of [[startDecontamMonitor]]. Hit counts are per
    * distinct gram (the batch sweep's countDistinct semantics): the
    * (doc, gram-hash) stream distincts BEFORE the probe join, so the join
    * and the count see each doc's gram at most once.
    */
  private[graft] def decontamBatchIdempotent(batch: DataFrame,
      evalGramsDir: String, flagDir: String, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val evalGrams = batch.sparkSession.read.parquet(evalGramsDir)
    graft.ext.Dedup.docShingles(batch, idCol, textCol)
      .select(col(idCol), xxhash64(col("shingle")).as("gh"))
      .distinct()
      .join(evalGrams, "gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
      .write.mode("overwrite").parquet(s"$flagDir/b$batchId")
  }

  /** Streaming CDC apply: drive [[graft.engine.Pipeline.applyChanges]]
    * from a change stream — each micro-batch of (key, op, seq, payload)
    * records merges into the snapshot atomically. No commit ledger here,
    * deliberately: MERGE is idempotent (re-applying a replayed batch's
    * upserts/deletes converges to the same snapshot), so foreachBatch's
    * at-least-once contract is safe without one — the structural contrast
    * with [[startIncrementalLoad]]'s append path, where replay WOULD
    * duplicate and the ledger is what closes the seam.
    *
    * Ordering: micro-batches arrive in order per the source; within a
    * batch, `seqCol` resolves last-wins. A change for the same key split
    * across two batches applies in batch order — the later batch sees the
    * earlier one's merged snapshot.
    */
  def startCdcMerge(changes: DataFrame, snapshotDir: String,
      checkpointDir: String, keyCol: String, opCol: String = "op",
      seqCol: String = "seq")
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(changes, checkpointDir) { (batch, _) =>
      val r = graft.engine.Pipeline.applyChanges(batch.sparkSession,
        snapshotDir, batch, keyCol, opCol, seqCol)
      // Surface a failed swap as a stream failure, not a silent skip.
      require(r.ok, s"cdc merge failed: ${r.detail}")
    }

  /** [[graft.engine.Pipeline.appendCleaned]] guarded by the commit ledger
    * ([[graft.engine.Commits.once]]): replaying an already-committed
    * micro-batch is a no-op, which is what makes the at-least-once
    * foreachBatch contract safe to append under. The marker lands AFTER
    * the data commit, so the residual window is a crash between the two —
    * one batch can then duplicate on replay; that seam is the
    * plain-parquet limit (a table format's transactional commit retires
    * it), and [[graft.engine.Pipeline.readLatest]] still dedups such rows
    * by key.
    *
    * The marker records the rows actually WRITTEN (appendCleaned's
    * observed post-cleaning count — cleaning dedups exact duplicates, so
    * the raw batch count would overstate it), so the residual duplicate
    * seams — a crash between append and marker, or two misconfigured
    * writers racing the exists check — are not silent: [[ledgerConsistent]]
    * compares sum-of-marker rows against the table and flags the drift.
    * (Skipping on a pre-claimed batch would turn the crash seam into data
    * LOSS, which is strictly worse than an auditable duplicate that
    * readLatest dedups by key anyway.)
    */
  private[graft] def appendBatchIdempotent(batch: DataFrame,
      analyticsDir: String, batchId: Long,
      at: Option[Timestamp]): Unit =
    Commits(batch.sparkSession, analyticsDir).once(analyticsDir, batchId) {
      Some(graft.engine.Pipeline.appendCleaned(batch, analyticsDir, at))
    }

  /** Audit for the commit-ledger seams [[appendBatchIdempotent]] documents:
    * true iff the analytics table's row count equals the sum of per-batch
    * row counts in the ledger. A crash-replay duplicate or a racing double
    * append leaves the table larger than the ledger; a claim-skip bug would
    * leave it smaller. O(markers) driver reads + one table count.
    *
    * A marker with no parseable `"rows":N` field (e.g. an empty file from a
    * pre-ledger-format writer) is SKIPPED with a warning rather than counted
    * as 0 — defaulting to 0 would make a legacy-ingested table permanently
    * audit false, and an unparsable marker is indistinguishable from a
    * legitimately-zero-row batch.
    */
  def ledgerConsistent(spark: SparkSession, analyticsDir: String): Boolean = {
    val commits = Commits(spark, analyticsDir)
    commits.markerNames(analyticsDir).forall { names =>
      val expected = names.flatMap { name =>
        val marker = commits.marker(analyticsDir, name)
        val rows = commits.readUtf8(marker).flatMap(Commits.rows)
        if (rows.isEmpty)
          Console.err.println(s"graft: skipping unparsable ledger marker " +
            s"$marker (pre-format or corrupt) in consistency audit")
        rows
      }.sum
      graft.engine.Pipeline.readTable(spark, analyticsDir).count() == expected
    }
  }

  /** Audit for the rollup journal's commit ledger — the journal twin of
    * [[ledgerConsistent]]. Two invariants:
    * (a) every `b<id>` batch tag in the journal has a ledger marker — an
    *     unmarked tag means an unledgered writer appended partials (the
    *     crash-between-journal-and-marker seam, or a misconfigured job);
    * (b) every marker has its tag in the journal, UNLESS the journal has
    *     been compacted (the `_compacted` tag subsumes folded batches —
    *     markers deliberately outlive them so replays stay no-ops).
    * Duplicate same-tag partials are NOT flagged: [[graft.engine.Rollup
    * .report]] collapses them by construction. O(markers + groups×batches
    * partial rows) — the journal is tiny by design.
    */
  def rollupLedgerConsistent(spark: SparkSession, journalDir: String)
      : Boolean =
    Commits(spark, journalDir).markerNames(journalDir).forall { names =>
      val markers = names.toSet
      val tags = spark.read.parquet(journalDir)
        .select(col("batch")).distinct().collect()
        .map(_.getString(0)).toSet
      val compacted = tags.contains("_compacted")
      val batchTags = tags.filter(_.startsWith("b"))
      val unledgered = batchTags.filterNot(t => markers.contains(t.drop(1)))
      val orphanMarkers =
        if (compacted) Set.empty[String]
        else markers.filterNot(m => batchTags.contains(s"b$m"))
      unledgered.isEmpty && orphanMarkers.isEmpty
    }

  /** Stateful sessionization: 30-minute-gap sessions per user via
    * flatMapGroupsWithState with event-time timeouts — the streaming twin
    * of graft.ext.Sessionize. A session closes when a same-user event
    * arrives more than `gapMillis` later, or when the watermark passes
    * session_end + gap (timeout), so state size tracks OPEN sessions only.
    */
  def sessionize(events: Dataset[Event], gapMillis: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(updateSessions(gapMillis))
  }

  private[streaming] def updateSessions(gapMillis: Long)(
      user: Long, batch: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(Session(user, s.start, s.end, s.n, s.total))
    } else {
      // Interval merge over {open-session state} ∪ {batch events as
      // singleton intervals}, sorted by start: adjacent intervals within
      // the gap coalesce (extending either boundary, so cross-batch
      // stragglers merge with EACH OTHER and with the open session exactly
      // like the batch twin). All merged sessions except the newest close
      // now — they could in principle still receive even-later stragglers,
      // but buffering them until the watermark would unbound state; the
      // newest stays open under an event-time timer.
      val intervals = state.getOption.toList ++
        batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          .map(e => SessionState(e.ts, e.ts, 1L, e.value))
      val merged = intervals.sortBy(_.start.getTime)
        .foldLeft(List.empty[SessionState]) {
          case (head :: tail, s)
              if s.start.getTime - head.end.getTime <= gapMillis =>
            val end = if (s.end.getTime > head.end.getTime) s.end else head.end
            head.copy(end = end, n = head.n + s.n,
              total = head.total + s.total) :: tail
          case (acc, s) => s :: acc
        }.reverse
      merged match {
        case Nil => Iterator.empty
        case _ =>
          val open = merged.last
          state.update(open)
          state.setTimeoutTimestamp(open.end.getTime + gapMillis)
          merged.init.iterator
            .map(s => Session(user, s.start, s.end, s.n, s.total))
      }
    }
  }

  /** Streaming IVF index maintenance — continuous vector ingest against a
    * FIXED trained codebook: each arriving micro-batch is broadcast-argmax
    * assigned (graft.ext.Similarity.assignClustersAgainst — the same
    * assignment rule as the batch IVF family, so the assembled journal is
    * directly comparable to a whole-corpus `assignClusters`) and its
    * (id, cluster_id) rows land under `stateDir/asgn/b<batchId>`.
    *
    * Per-trigger work is O(batch × centroids) — no cross-batch state, so
    * idempotence is BY PATH like the decontamination monitor: a replay
    * recomputes byte-identical output onto the batch's own overwritten
    * path, with the commit marker closing the crash-between-writes seam.
    * An IVF query side unions `asgn/` as its assignment table; re-training
    * the codebook starts a new stateDir epoch (assignments are defined
    * relative to one codebook).
    */
  def startIvfJournal(vectors: DataFrame, centroidsDir: String,
      stateDir: String, checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    startBatches(vectors, checkpointDir) { (batch, batchId) =>
      ivfBatchIdempotent(batch, centroidsDir, stateDir, batchId, idCol,
        vecCol)
    }

  /** The per-batch step of [[startIvfJournal]]. */
  private[graft] def ivfBatchIdempotent(batch: DataFrame,
      centroidsDir: String, stateDir: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import graft.ext.Similarity
    val spark = batch.sparkSession
    Commits(spark, stateDir).once(stateDir, batchId) {
      val cents = Similarity.withNorm(
        spark.read.parquet(centroidsDir), idCol, vecCol)
      Similarity.assignClustersAgainst(
          Similarity.withNorm(batch, idCol, vecCol), idCol, cents)
        .select(col(idCol), col("cluster_id"))
        .write.mode("overwrite").parquet(s"$stateDir/asgn/b$batchId")
      None
    }
  }
}
