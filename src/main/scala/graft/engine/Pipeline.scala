package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's macro lifecycle (SURVEY §3): extract → load → validate,
  * three sequential stages folded to an exit code (the Airflow DAG contract,
  * dags/etl_dag_updt.py:73). Each stage is one lazy Catalyst plan ending in
  * one atomic write — the reference's per-chunk network round-trips
  * disappear.
  *
  * Scale note: stage boundaries are durable parquet tables (restartable,
  * inspectable), writes are all-or-nothing, and the analytics table is
  * partitioned by `load_date` so daily consumers prune to one partition.
  */
object Pipeline {

  final case class StageReport(name: String, ok: Boolean, detail: String)

  final case class RunReport(stages: Seq[StageReport]) {
    def exitCode: Int = if (stages.forall(_.ok)) 0 else 1
  }

  /** Stage 1 — extract: landing CSV → normalized columns → staging parquet.
    * Applies the schema-evolution decision (all three outcomes degenerate to
    * an atomic overwrite for a parquet warehouse; the decision is still
    * computed and reported to preserve the reference's observable policy).
    */
  def extract(spark: SparkSession, landingCsv: String, stagingDir: String)
      : StageReport =
    stageToStaging(spark, Sources.readCsvInferred(spark, landingCsv),
      stagingDir)

  /** Chunk-staged variant of [[extract]]: the reference slices the landing
    * data into ≤50K-row CSV chunks and then loads them back SERIALLY, one
    * blob at a time (data_extractor.py:206-217, 414-443). This reads the
    * same transient tier through the chunkcsv connector (SURVEY §2.1 S12)
    * instead — one executor task per chunk, header-driven column
    * resolution per chunk (schema drift reads as NULL, the reference's
    * evolution semantics), and the staging write stays one atomic job.
    * Without an explicit schema every column lands as STRING — exactly
    * the reference's TEXT-default type lattice (data_extractor.py:353).
    */
  def extractChunked(spark: SparkSession, chunkDir: String,
      stagingDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : StageReport = {
    val reader = spark.read.format("chunkcsv")
    val raw = schema.fold(reader)(reader.schema).load(chunkDir)
    stageToStaging(spark, raw, stagingDir)
  }

  private def stageToStaging(spark: SparkSession, raw: DataFrame,
      stagingDir: String): StageReport = {
    if (raw.isEmpty)
      return StageReport("extract", ok = false, "empty API dataset") // P7 guard
    val normalized = Schemas.normalizeColumns(raw)
    // AnalysisException only: a missing table is expected (→ CreateNew);
    // corrupt files or OOM must propagate, not masquerade as "new table".
    val existing =
      try Some(spark.read.parquet(stagingDir).schema)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val decision = Evolution.plan(existing, normalized.schema)
    Sinks.overwriteParquet(normalized, stagingDir)
    StageReport("extract", ok = true, s"evolution=$decision")
  }

  /** Stage 2 — load: staging → reference-ordered cleaning → warn-only
    * validation with audit side-output → analytics parquet partitioned by
    * load_date. One job, atomic.
    */
  def load(spark: SparkSession, stagingDir: String, analyticsDir: String,
      auditDir: Option[String] = None,
      rangeCol: Option[(String, Double, Double)] = None): StageReport = {
    val staged = spark.read.parquet(stagingDir)
    val cleaned = Cleaning.cleanAll(staged)
    rangeCol.foreach { case (c, lo, hi) =>
      val bad = cleaned.filter(col(c) < lo || col(c) > hi)
      auditDir.foreach(Sinks.writeAuditCsv(bad, _))
    }
    Sinks.overwritePartitioned(cleaned, analyticsDir)
    StageReport("load", ok = true, s"analytics=$analyticsDir")
  }

  /** Incremental variant of the load stage: clean the staged batch and
    * APPEND its load_date partition instead of overwriting the table —
    * the path a daily pipeline takes once history must be kept. Readers
    * reconstruct current state with [[readLatest]]; a periodic compaction
    * can materialize it. Appends only touch the new partition, so daily
    * cost is O(batch), not O(history).
    */
  def loadIncremental(spark: SparkSession, stagingDir: String,
      analyticsDir: String,
      at: Option[java.sql.Timestamp] = None): StageReport = {
    appendCleaned(spark.read.parquet(stagingDir), analyticsDir, at)
    StageReport("load_incremental", ok = true, s"appended to $analyticsDir")
  }

  /** The shared append step of the incremental load: reference-ordered
    * cleaning, partitioned append, schema-sidecar journal. Called by
    * [[loadIncremental]] (batch) and per micro-batch by
    * [[graft.streaming.Streams.startIncrementalLoad]] — ONE code path, so
    * the streaming-ingested table is byte-identical to the batch one for
    * the same input batches.
    *
    * Returns the number of rows actually WRITTEN (post-cleaning — cleaning
    * dedups exact duplicates, so this can be smaller than the input batch),
    * observed on the write job itself via [[org.apache.spark.sql.Observation]]
    * rather than a second count job. The streaming commit ledger records
    * this value; recording the raw input count would make
    * [[graft.streaming.Streams.ledgerConsistent]] flag any batch that
    * carried an intra-batch duplicate.
    */
  def appendCleaned(batch: DataFrame, analyticsDir: String,
      at: Option[java.sql.Timestamp] = None): Long = {
    val cleaned = Cleaning.cleanAll(batch, at)
    val obs = org.apache.spark.sql.Observation()
    cleaned.observe(obs, count(lit(1)).as("rows_written"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("load_date").parquet(analyticsDir)
    // Journal the schema beside the data: a zero-row append writes no
    // parquet footers, so without this a freshly-created (or so-far-empty)
    // table is unreadable — the plain-parquet stand-in for the schema
    // journal a table format (Delta/Iceberg) keeps. Written on EVERY load:
    // idempotent when unchanged, and it tracks evolution when the batch
    // schema widens.
    writeSchemaSidecar(batch.sparkSession, analyticsDir,
      readBackSchema(cleaned.schema))
    obs.get("rows_written").asInstanceOf[Long]
  }

  /** Backfill ONE day of an incrementally-loaded table: re-clean the
    * corrected batch under the original load timestamp and replace exactly
    * that `load_date` partition via dynamic partition overwrite — other
    * days' files are never touched (the fix for "day N loaded garbage"
    * that doesn't cost a table rewrite or a compaction). All rows share
    * the injected timestamp, so exactly one partition is replaced, and
    * that is the contract: this is a day-repair, not a general rewrite.
    *
    * The streaming commit ledger stays EXACT: the replaced partition's
    * old row count is read first (one pruned partition scan) and a
    * `_backfill_<date>` marker records the delta — without it,
    * [[graft.streaming.Streams.ledgerConsistent]] would flag every
    * backfilled table forever. Returns the rows written.
    */
  def backfillDay(batch: DataFrame, analyticsDir: String,
      at: java.sql.Timestamp): Long = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    // the day Cleaning.withLoadMetadata writes as load_date (the SESSION
    // timezone) — a JVM-default-TZ conversion here could name a different
    // partition than the one being written
    val day = Cleaning.loadDay(spark, at).toString
    val oldRows =
      try readTable(spark, analyticsDir)
        .filter(col("load_date") === lit(day).cast("date")).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val cleaned = Cleaning.cleanAll(batch, Some(at))
    val obs = org.apache.spark.sql.Observation()
    cleaned.observe(obs, count(lit(1)).as("rows_written"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("load_date").parquet(analyticsDir)
    writeSchemaSidecar(spark, analyticsDir, readBackSchema(cleaned.schema))
    val written = obs.get("rows_written").asInstanceOf[Long]
    val ledger = new Path(analyticsDir, "_graft_commits")
    val fs = ledger.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ledger)) {
      // Deltas ACCUMULATE across repeated backfills of the same day: the
      // marker holds Σ deltas, which telescopes to (current day rows −
      // originally ledgered day rows) — overwriting with only the latest
      // delta would silently break the audit on the second repair.
      val marker = new Path(ledger, s"_backfill_$day")
      val prior =
        if (!fs.exists(marker)) 0L
        else {
          val in = fs.open(marker)
          val body = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
          """"rows":(-?\d+)""".r.findFirstMatchIn(body)
            .map(_.group(1).toLong).getOrElse(0L)
        }
      val out = fs.create(marker, true)
      try out.write(
        s"""{"batchId":"_backfill_$day","rows":${prior + written - oldRows}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    written
  }

  /** Name starts with `_` so Spark's file index ignores it (same convention
    * as `_SUCCESS`) — the sidecar never pollutes the parquet scan.
    */
  private val SidecarName = "_graft_schema.json"

  /** The schema a reader will OBSERVE, given the schema that was written:
    * `partitionBy` moves the partition column out of the data files, and the
    * read re-appends it after the data columns — so the sidecar must record
    * partition columns last or the empty-table fallback would disagree with
    * the populated-table read on column order.
    */
  private def readBackSchema(written: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val (part, data) = written.fields.partition(_.name == "load_date")
    org.apache.spark.sql.types.StructType(data ++ part)
  }

  private def writeSchemaSidecar(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir, SidecarName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Schema journaled by [[loadIncremental]], if the table has one. Missing
    * file → None (pre-sidecar table or foreign dir); a PRESENT but
    * unparseable sidecar throws — that is corruption, not absence.
    */
  def sidecarSchema(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir, SidecarName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Read an incrementally-loaded table. When the table carries a schema
    * sidecar, the READ USES IT as the explicit schema — this is what makes
    * reads deterministic under schema EVOLUTION: without it, a table whose
    * later batches widened the schema is read through whichever parquet
    * footer the reader samples first (old files → the new column silently
    * vanishes, run to run). With the journaled schema, old files simply
    * surface NULL for columns they predate (parquet's missing-column
    * contract), and the no-data-files case (only zero-row batches so far)
    * needs no schema inference at all. Tables without a sidecar fall back
    * to plain inference and rethrow its failures — absence of the journal
    * means this isn't a [[loadIncremental]] table and guessing a schema
    * would mask real corruption.
    */
  def readTable(spark: SparkSession, analyticsDir: String): DataFrame =
    sidecarSchema(spark, analyticsDir) match {
      case Some(st) => spark.read.schema(st).parquet(analyticsDir)
      case None => spark.read.parquet(analyticsDir)
    }

  /** Current-state view over an incrementally-loaded table: latest row per
    * key by load timestamp. Ties on `loaded_at` (rows appended by the same
    * batch share one stamp) break on a full-row hash, so the survivor is
    * deterministic — a key-column tiebreak would be constant within the
    * window and leave the choice to partition order.
    */
  def readLatest(spark: SparkSession, analyticsDir: String,
      keys: Seq[String]): DataFrame =
    latestOf(readTable(spark, analyticsDir), keys)

  private def latestOf(df: DataFrame, keys: Seq[String]): DataFrame =
    Cleaning.dedupLatest(
      df.withColumn("__tb", xxhash64(df.columns.map(col).toIndexedSeq: _*)),
      keys, "loaded_at", "__tb").drop("__tb")

  /** [[readLatest]] for tables that may hold no data yet (only zero-row
    * batches appended, or never written): a partitioned plain-parquet dir
    * with no data files carries NO schema, so the read cannot be recovered
    * generically — the caller supplies the zero-row frame (with the
    * expected schema) to stand in. A table format (Delta/Iceberg) removes
    * this seam by journaling schema separately from data; this is the
    * plain-parquet equivalent of that contract.
    */
  def readLatestOr(spark: SparkSession, analyticsDir: String,
      keys: Seq[String], empty: => DataFrame): DataFrame = {
    // Only the schema probe is guarded: an AnalysisException from the dedup
    // step itself (e.g. a typo'd key against a healthy table) must
    // propagate, not masquerade as "table holds no data yet". readTable
    // already prefers the journaled schema (sidecar) over inference; the
    // `empty` parameter remains the fallback for pre-sidecar tables.
    val read =
      try Some(readTable(spark, analyticsDir))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    read.fold(empty)(latestOf(_, keys))
  }

  /** Periodic compaction for the incremental path: materialize the
    * current-state view back to a single partition set, bounding read
    * amplification (readers stop re-deduping a growing history).
    *
    * Swap protocol: write to `<dir>.compact-tmp`, move the live dir to
    * `<dir>.compact-old`, move tmp into place, drop old. Every step is
    * checked; on a failed swap the original is restored. No point in the
    * sequence has the data been deleted before its replacement is fully
    * written — a crash mid-swap leaves the table recoverable from
    * `.compact-old`/`.compact-tmp` rather than destroyed.
    */
  def compact(spark: SparkSession, analyticsDir: String,
      keys: Seq[String]): StageReport = {
    import org.apache.hadoop.fs.Path
    val pLive = new Path(analyticsDir)
    val pTmp = new Path(analyticsDir + ".compact-tmp")
    val pOld = new Path(analyticsDir + ".compact-old")
    val fsEntry = pLive.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStrandedSwap(fsEntry, pLive, pOld) match {
      case Some(err) => return StageReport("compact", ok = false, err)
      case None => ()
    }
    // readTable, not readLatest: a table holding only zero-row appends
    // (sidecar, no data files) compacts to an empty table instead of dying
    // on the schema probe.
    val latest = latestOf(readTable(spark, analyticsDir), keys)
    val obs = org.apache.spark.sql.Observation()
    latest.observe(obs, count(lit(1)).as("rows_compacted"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("load_date").parquet(pTmp.toString)
    // Carry the schema journal through the swap — `latest` is already a
    // read-back frame, so its schema is the observed (partition-col-last)
    // shape the sidecar contract requires.
    writeSchemaSidecar(spark, pTmp.toString, latest.schema)
    val fs = pLive.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Carry the streaming commit ledger through the swap, re-seeded:
    // every batch marker keeps its idempotence claim (a post-compact
    // replay of an old batchId must still be a no-op) but its row count
    // is rewritten to 0, because compaction just collapsed those rows —
    // a single `_compaction` marker holding the compacted table count
    // keeps [[graft.streaming.Streams.ledgerConsistent]] exact. Without
    // this the swap would drop `_graft_commits` entirely, losing both the
    // idempotence markers and the audit.
    val ledgerLive = new Path(pLive, "_graft_commits")
    if (fs.exists(ledgerLive)) {
      val ledgerTmp = new Path(pTmp, "_graft_commits")
      fs.mkdirs(ledgerTmp)
      fs.listStatus(ledgerLive).filter(_.isFile).foreach { st =>
        val out = fs.create(new Path(ledgerTmp, st.getPath.getName), true)
        try out.write(
          s"""{"batchId":"${st.getPath.getName}","rows":0,"compacted":true}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      val rows = obs.get("rows_compacted").asInstanceOf[Long]
      val out = fs.create(new Path(ledgerTmp, "_compaction"), true)
      try out.write(s"""{"batchId":"_compaction","rows":$rows}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    fs.delete(pOld, true)
    if (!fs.rename(pLive, pOld))
      return StageReport("compact", ok = false,
        s"could not stage current table aside; table untouched")
    if (!fs.rename(pTmp, pLive)) {
      val restored = fs.rename(pOld, pLive)
      return StageReport("compact", ok = false,
        if (restored) "swap failed; original restored"
        else s"swap failed AND restore failed — table stranded at $pOld")
    }
    fs.delete(pOld, true)
    StageReport("compact", ok = true, s"compacted $analyticsDir")
  }

  /** Crash recovery for the two-rename swap [[compact]]/[[applyChanges]]
    * use: if a previous run died between "live moved aside" and
    * "replacement moved in", the data sits in `<dir><oldSuffix>` while the
    * live path is missing. Detect that exact state on entry and restore
    * the original before proceeding — any other combination (live exists,
    * or no old dir) is left alone. Returns an error string if recovery
    * itself fails.
    */
  private[graft] def recoverStrandedSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(live) && fs.exists(old)) {
      if (fs.rename(old, live)) None
      else Some(s"found stranded swap ($old exists, $live missing) " +
        "but could not restore it")
    } else None

  /** Apply a CDC change batch to a parquet snapshot atomically — the
    * MERGE INTO maintenance op (the batch form is oracle-checked as
    * `q_merge_upsert`; this is the journaled-snapshot twin the streaming
    * path drives). `changes` carries the snapshot's key column, `opCol`
    * ('U'/'I' upsert, 'D' delete), `seqCol` (last-wins within the batch),
    * and any subset of the snapshot's payload columns.
    *
    * Semantics: per key, only the highest-seq change applies. Upserts
    * REPLACE the row (missing payload columns become NULL — full-row CDC
    * images, the Debezium default, round-trip exactly); deletes drop it;
    * unmentioned snapshot rows pass through. ONE full-outer equi join on
    * the key + the same crash-safe swap as [[compact]], so a failure
    * leaves the original snapshot intact. Applying the same batch twice
    * converges to the same snapshot (upsert/delete are idempotent), which
    * is what makes this safe under foreachBatch's at-least-once replay
    * with NO commit ledger — unlike blind appends.
    *
    * At 100 TB: the join shuffles on the key (or broadcasts the typically
    * small change batch under AQE); the rewrite is the plain-parquet
    * cost — a table format (Delta/Iceberg/Hudi) turns it into file-level
    * upserts, but the MERGE plan itself is exactly this.
    */
  def applyChanges(spark: SparkSession, snapshotDir: String,
      changes: DataFrame, keyCol: String, opCol: String = "op",
      seqCol: String = "seq"): StageReport = {
    import org.apache.hadoop.fs.Path
    // A crash between the two swap renames below leaves the snapshot in
    // .merge-old with no live dir; recover it before reading, or the
    // stranded state would persist until a human notices the read failing.
    val fsEntry = new Path(snapshotDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStrandedSwap(fsEntry, new Path(snapshotDir),
        new Path(snapshotDir + ".merge-old")) match {
      case Some(err) => return StageReport("merge", ok = false, err)
      case None => ()
    }
    val snap = spark.read.parquet(snapshotDir)
    val payloadCols = snap.columns.filter(_ != keyCol).toSeq
    // Last change per key wins; ties on seq break on op so replayed
    // batches with duplicated (key, seq) rows stay deterministic.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(seqCol).desc, col(opCol).desc)
    val latestChg = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", seqCol)
    val merged = snap.alias("s")
      .join(latestChg.alias("c"),
        col(s"s.$keyCol") === col(s"c.$keyCol"), "full")
      .filter(col(opCol).isNull || col(opCol) =!= "D")
      .select(
        coalesce(col(s"s.$keyCol"), col(s"c.$keyCol")).as(keyCol) +:
        payloadCols.map { c =>
          val fromChange = latestChg.columns.contains(c)
          if (fromChange)
            when(col(opCol).isNotNull, col(s"c.$c"))
              .otherwise(col(s"s.$c")).as(c)
          else when(col(opCol).isNotNull, lit(null).cast(
            snap.schema(c).dataType)).otherwise(col(s"s.$c")).as(c)
        }: _*)
    val pLive = new Path(snapshotDir)
    val pTmp = new Path(snapshotDir + ".merge-tmp")
    val pOld = new Path(snapshotDir + ".merge-old")
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(pTmp.toString)
    val fs = pLive.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(pOld, true)
    if (!fs.rename(pLive, pOld))
      return StageReport("merge", ok = false,
        "could not stage current snapshot aside; snapshot untouched")
    if (!fs.rename(pTmp, pLive)) {
      val restored = fs.rename(pOld, pLive)
      return StageReport("merge", ok = false,
        if (restored) "swap failed; original restored"
        else s"swap failed AND restore failed — snapshot stranded at $pOld")
    }
    fs.delete(pOld, true)
    StageReport("merge", ok = true, s"merged changes into $snapshotDir")
  }

  /** Stage 3 — validate: single-pass multi-aggregate check suite over the
    * analytics table (the validator's one-statement shape).
    */
  def validate(spark: SparkSession, analyticsDir: String,
      checks: DataFrame => Seq[Checks.Check],
      required: Set[String] = Set.empty): StageReport = {
    val df =
      try spark.read.parquet(analyticsDir)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          return StageReport("validate", ok = false, "table does not exist")
      }
    val schemaRes =
      if (required.nonEmpty) Seq(Checks.requiredColumns(df, required)) else Nil
    if (schemaRes.exists(r => !r.passed))
      return StageReport("validate", ok = false,
        s"missing required columns: ${Schemas.missingRequired(df.schema, required).mkString(",")}")
    val suite = Checks.run(df, checks(df))
    StageReport("validate", ok = suite.passed,
      suite.results.map(r => s"${r.name}=${r.value}:${if (r.passed) "ok" else if (r.blocking) "FAIL" else "warn"}")
        .mkString(" "))
  }

  /** Stage 0 — fetch (reference S1): HTTP GET with retry/backoff into the
    * landing file; see graft.engine.Fetch for the policy.
    */
  def fetch(url: String, landingFile: String,
      config: Fetch.Config = Fetch.Config()): StageReport = {
    val r = Fetch.fetchToLanding(url, landingFile, config)
    StageReport("fetch", ok = r.ok,
      s"status=${r.status} attempts=${r.attempts} bytes=${r.bytes} ${r.detail}")
  }

  /** Full run with exit-code fold; later stages skipped on blocking failure
    * (the DAG's sequential trigger rule).
    */
  def run(spark: SparkSession, landingCsv: String, stagingDir: String,
      analyticsDir: String, auditDir: Option[String],
      checks: DataFrame => Seq[Checks.Check],
      required: Set[String] = Set.empty,
      rangeCol: Option[(String, Double, Double)] = None): RunReport = {
    val s1 = extract(spark, landingCsv, stagingDir)
    if (!s1.ok) return RunReport(Seq(s1))
    val s2 = load(spark, stagingDir, analyticsDir, auditDir, rangeCol)
    if (!s2.ok) return RunReport(Seq(s1, s2))
    val s3 = validate(spark, analyticsDir, checks, required)
    RunReport(Seq(s1, s2, s3))
  }

  /** Full run from a remote source: fetch → extract → load → validate (the
    * reference's complete DAG including the HTTP front door).
    */
  def runFromUrl(spark: SparkSession, url: String, landingFile: String,
      stagingDir: String, analyticsDir: String, auditDir: Option[String],
      checks: DataFrame => Seq[Checks.Check],
      required: Set[String] = Set.empty,
      fetchConfig: Fetch.Config = Fetch.Config(),
      rangeCol: Option[(String, Double, Double)] = None): RunReport = {
    val s0 = fetch(url, landingFile, fetchConfig)
    if (!s0.ok) return RunReport(Seq(s0))
    RunReport(s0 +: run(spark, landingFile, stagingDir, analyticsDir,
      auditDir, checks, required, rangeCol).stages)
  }

  /** Global training-order writer: materialize the corpus in the exact
    * order a pretraining loader will stream it — sharded by a pure id
    * hash (the q_shard_order assignment: zero data movement to decide),
    * position-sorted inside each shard by a second independent id hash
    * (the deterministic global shuffle order), one directory per shard
    * with the rows physically in position order.
    *
    * Execution is ONE shuffle total: the seq-stamping window shuffles by
    * shard, which is exactly the output layout, so the writer's
    * `partitionBy` consumes that distribution directly — each shard lives
    * wholly in one task and lands as one contiguous position-sorted file.
    * No global sort: order is only ever per-shard (loaders consume shards
    * independently), so nothing serializes through a single partition at
    * 100 TB. `seq` (row_number by position within shard) is written so
    * consumers and audits can verify/seek the order without re-deriving
    * the hash — and so the manifest is oracle-checkable row by row.
    *
    * `curriculumCol` is the CURRICULUM dial: when set, each shard streams
    * in ascending order of that score FIRST, with the position hash (then
    * id) breaking ties — e.g. token count for the short-sequences-first
    * schedule (Shortformer, Press et al. 2021) or a quality/perplexity
    * score for easy-to-hard curricula (Bengio et al. 2009); pass a
    * negated score for descending. Same ONE-shuffle execution — the
    * score only changes the within-shard sort key, never the
    * partitioning — and ties still break by independent hash, so docs
    * with equal scores stay globally shuffled within their score level.
    */
  def writeTrainingOrder(docs: DataFrame, idCol: String, outDir: String,
      nShards: Int = 8, curriculumCol: Option[String] = None): Unit = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val id = col(idCol).cast("string")
    val keyed = docs
      .withColumn("shard",
        conv(substring(md5(concat(lit("shard:"), id)), 1, 4), 16, 10)
          .cast("long") % nShards)
      .withColumn("pos", md5(concat(lit("order:"), id)))
    val curriculum = curriculumCol.map(col).toSeq
    val w = Window.partitionBy(col("shard"))
      .orderBy(curriculum ++ Seq(col("pos"), col(idCol)): _*)
    keyed
      .withColumn("seq", row_number().over(w).cast("long"))
      .sortWithinPartitions(col("shard") +: curriculum :+ col("pos"): _*)
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Materialize the near-dup state ONCE so every downstream report reads
    * it instead of re-running the minhash→verify→cluster chain per query —
    * the production shape at 100 TB, where the chain is hours of work and
    * the reports (kept, kept_best, savings, leakage-safe splits,
    * cross-source) are minutes. Three parquet relations under `stateDir`:
    *
    *   - `bands/`    (doc_id, band_idx, band_hash) — the LSH index; the
    *                 incremental journal appends to exactly this schema
    *                 ([[graft.streaming.Streams]]' band journal), so batch
    *                 state and streaming maintenance share one layout.
    *   - `pairs/`    (doc_a, doc_b, jaccard) — exact-verified near-dups.
    *   - `clusters/` (doc_id, cluster_id) — connected components over the
    *                 pairs, derived FROM THE WRITTEN pairs table so the
    *                 cluster artifact provably descends from the persisted
    *                 state, not a parallel in-memory lineage.
    *
    * One corpus explode feeds bands AND the verify join
    * ([[graft.ext.Dedup.minhashVerifiedPairsFrom]]); the label-propagation
    * loop runs over the tiny pair set. `q_dedup_state_kept` pins
    * state-read == recompute (hash-equal to `q_dedup_kept`).
    */
  def writeDedupState(spark: SparkSession, corpusDir: String,
      stateDir: String, threshold: Double = 0.5, k: Int = 8,
      rowsPerBand: Int = 2, shingleN: Int = 5): Unit = {
    import graft.ext.Dedup
    val docs = Sources.table(spark, corpusDir, "documents")
    val raw = Dedup.docShingles(docs, "doc_id", "text", shingleN)
    val prof = Dedup.minhashFromShingles(raw, "doc_id", k).localCheckpoint()
    val shh = raw
      .select(col("doc_id"), xxhash64(col("shingle")).as("shash"))
      .distinct().localCheckpoint()
    Dedup.lshBands(prof, "doc_id", k, rowsPerBand)
      .write.mode("overwrite").parquet(s"$stateDir/bands")
    Dedup.minhashVerifiedPairsFrom(shh, prof, "doc_id", threshold, k,
        rowsPerBand)
      .write.mode("overwrite").parquet(s"$stateDir/pairs")
    val pairs = spark.read.parquet(s"$stateDir/pairs")
    Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      .write.mode("overwrite").parquet(s"$stateDir/clusters")
  }

  /** INCREMENTAL maintenance of [[writeDedupState]]'s layout: fold an
    * arriving batch of documents into the persisted state without
    * re-running the chain over the corpus. Per-update work is
    * O(batch × bands) for candidates plus a verify join that touches only
    * the batch's shingles and the shingles of the OLD docs its candidates
    * involve (read back from the corpus store by semi-join — a
    * candidate-adjacent sliver, never a corpus scan). The decomposition is
    * exact by the same argument the streaming band journal pins: every
    * full-corpus pair involving a new doc shares a band between the new
    * bands and bands ∪ new, a doc's shingle set never changes as the
    * corpus grows, and the verify stage is the IDENTICAL arithmetic
    * ([[graft.ext.Dedup.verifyCandidates]]) — so bands/pairs after N
    * updates equal the full recompute's, and clusters (re-derived over the
    * tiny pair set, the only global artifact) follow.
    * `q_dedup_state_incr` pins exactly that, sharing `q_dedup_kept`'s
    * oracle; PipelineSpec compares all three relations against a
    * from-scratch [[writeDedupState]].
    *
    * Contracts: batch ids must be NEW (the band journal's disjointness
    * contract), and `corpusDir`'s documents table must contain the old
    * docs. Replay/idempotence is the STREAMING layer's job — wire this
    * behind a commit ledger or the by-path band journal for at-least-once
    * sources; a blind re-run appends duplicate band/pair rows.
    */
  def updateDedupState(spark: SparkSession, corpusDir: String,
      stateDir: String, newDocs: DataFrame, threshold: Double = 0.5,
      k: Int = 8, rowsPerBand: Int = 2, shingleN: Int = 5): Unit = {
    import graft.ext.Dedup
    val raw = Dedup.docShingles(newDocs, "doc_id", "text", shingleN)
    val prof = Dedup.minhashFromShingles(raw, "doc_id", k).localCheckpoint()
    val newBands = Dedup.lshBands(prof, "doc_id", k, rowsPerBand)
      .localCheckpoint() // feeds the candidate join AND the state append
    // Explicit schema: lawful even when the prior state is an empty write
    // (zero part files to infer from) — the q_dedup_state_kept pattern.
    val bandSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("band_idx", "integer")
      .add("band_hash", "long")
    val oldBands = spark.read.schema(bandSchema).parquet(s"$stateDir/bands")
    val cand = Dedup
      .incrementalCandidatePairs(oldBands, newBands, "doc_id")
      .localCheckpoint() // feeds the old-id probe AND the verify join
    val newShh = raw
      .select(col("doc_id"), xxhash64(col("shingle")).as("shash"))
      .distinct()
    val oldIds = cand.select(col("doc_a").as("doc_id"))
      .unionAll(cand.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(newDocs.select("doc_id"), Seq("doc_id"), "left_anti")
    val oldInvolved = Sources.table(spark, corpusDir, "documents")
      .join(oldIds, Seq("doc_id"), "left_semi")
    val oldShh = Dedup.docShingles(oldInvolved, "doc_id", "text", shingleN)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shash"))
      .distinct()
    Dedup.verifyCandidates(cand, newShh.unionAll(oldShh), "doc_id",
        threshold)
      .write.mode("append").parquet(s"$stateDir/pairs")
    newBands.write.mode("append").parquet(s"$stateDir/bands")
    val pairs = spark.read.parquet(s"$stateDir/pairs")
    Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      .write.mode("overwrite").parquet(s"$stateDir/clusters")
  }
}
