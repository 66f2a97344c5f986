package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType,
  StructField, StructType}

import graft.{Bench, SparkEntry}
import graft.engine.{Checks, Fetch, Pipeline, Schemas, Sources}

/** The benchmark's JVM side: one workload, one seed, one closed loop (one
  * op at a time, from this one process).
  *
  * Usage (run.py passes these):
  *   Harness --workload <daily_pipeline|incremental_append|query_tail>
  *           --seed <n>
  *           --seconds <s> --trace <0|1> --work <dir> --traces <dir>
  *           --cpus <n> [--fixture <dir> --gen-s <s>]
  *
  * Prints one JSON line: attempted/failed ops, failure reasons, the op
  * samples, metrics (end-to-end with trace 0, per-layer with trace 1) and
  * host context. With trace 1 it also writes the span tree to
  * `<traces>/<workload>-seed<n>.json`.
  */
object Harness {

  /** The query_tail set: the iterative tail, the signature family and one
    * plain join/aggregate control.
    */
  val Queries = Seq("q_label_prop", "q_pagerank", "q_dbscan",
    "q_coreset_kcenter", "q_bm25_rm3", "q_dedup_clusters", "q_dedup_simhash",
    "q_tpch_q9")

  val Workloads = Seq("daily_pipeline", "incremental_append", "query_tail")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val run = new Harness(a("workload"), a("seed").toLong,
      a("seconds").toDouble, a("trace") == "1", a("work"), a("traces"),
      a("cpus").toInt, a.get("fixture"),
      a.get("gen-s").map(_.toDouble).getOrElse(0.0))
    println(run.execute())
    // Spark's own threads are stopped by then; exit explicitly so no
    // lingering pool can hold the process open.
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  /** Listener counters every traced pipeline and incremental layer has. */
  val LayerCounters = Seq("jobs", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "idle_s")

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Heap still in use after a full collection, MiB: what an op leaves
    * behind. Taken between ops, outside every timer; the collection also
    * starts each op from the same heap state.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Data files under a table dir (Spark's `_`/`.` side files excluded). */
  def dataFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter { p =>
      Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")
    }.toList
    finally s.close()
  }

  /** Order-insensitive result hash: XXH64 of each row's UnsafeRow bytes,
    * summed, so equal multisets of rows hash equal.
    */
  def resultHash(rows: Iterator[InternalRow], schema: StructType): Long = {
    val proj = UnsafeProjection.create(schema)
    rows.foldLeft(0L) { (h, r) =>
      val u = proj(r)
      h + XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes, 42L)
    }
  }

  /** [[resultHash]] of a query's full result, computed where the rows are
    * produced: the whole physical plan runs and each task hashes its rows
    * and discards them, as `Bench.runToExhaustion` discards them.
    */
  def executorHash(df: DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(resultHash(rows, schema)))
      .collect().sum
  }
}

final class Harness(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, traces: String, cpus: Int,
    fixture: Option[String], genSeconds: Double) {
  import Harness._

  require(Workloads.contains(workload), s"unknown workload $workload")

  private var spark: SparkSession = _
  private val spans = new Spans
  private val root = spans.open(workload, -1, -1)
  private val ledger = new Ledger
  private var ledgerOn = false
  /** Layer spans awaiting listener attribution: (span, job group, gc ms). */
  private val pending = mutable.ArrayBuffer.empty[(Span, String, Long)]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val opDir = Paths.get(work, "ops")
  /** Largest [[retainedHeapMb]] reading after any op of the run. */
  private var retained = 0.0

  private def settle(): Unit = retained = math.max(retained, retainedHeapMb())

  /** The session every workload runs in: local[nproc], shuffle partitions
    * = nproc, UTC, nanos-as-long parquet and the bounded status store.
    */
  private def newSession(): SparkSession =
    Bench.withBoundedStore(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
    ledgerOn = false
  }

  // ---- spans and attribution ----

  /** Attach or detach the ledger: an untraced op runs with no listener. */
  private def tracing(on: Boolean): Unit = if (on != ledgerOn) {
    val sc = spark.sparkContext
    if (on) sc.addSparkListener(ledger) else sc.removeSparkListener(ledger)
    ledgerOn = on
  }

  private def layer[T](name: String, parent: Span, traced: Boolean)
      (body: => T): T = {
    val sc = spark.sparkContext
    val group = s"perfbench-${spans.all.size}"
    if (traced) sc.setJobGroup(group, name, interruptOnCancel = false)
    val gc0 = gcMillis()
    val span = spans.open(name, parent.id, parent.op)
    try body
    finally {
      span.close()
      if (traced) {
        sc.clearJobGroup()
        pending += ((span, group, gcMillis() - gc0))
      }
    }
  }

  /** Drain the listener bus and fill the pending layer spans' counters.
    * `gc_s` is the JVM's collection time over the span: in local mode the
    * executors share the driver's JVM.
    */
  private def attribute(): Unit = if (pending.nonEmpty) {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    pending.foreach { case (span, group, gcMs) =>
      val a = ledger.take(group)
      val busyMs = Ledger.covered(a.intervals.toSeq, span.startMs, span.endMs)
      val c = span.counters
      c("jobs") = a.jobs.toDouble
      c("task_cpu_s") = a.cpuNs / 1e9
      c("gc_s") = gcMs / 1e3
      c("shuffle_write_bytes") = a.shuffleWriteBytes.toDouble
      c("spill_bytes") = a.spillBytes.toDouble
      c("idle_s") = math.max(0.0, span.seconds - busyMs / 1e3)
    }
    pending.clear()
  }

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** A metric's value; its unit lives beside its name in BENCHMARK.json. */
  private def metric(name: String, value: Double): Unit =
    metrics(name) = value

  private def layersOf(ops: Seq[Span], name: String): Seq[Span] = {
    val ids = ops.map(_.id).toSet
    spans.all.filter(s => s.name == name && ids(s.parent)).toSeq
  }

  /** Closed loop: one op at a time until the window closes, at least
    * `min` ops (traced runs alternate traced and untraced ops, so they
    * need two).
    */
  private def closedLoop(min: Int)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      op(i)
      i += 1
    }
  }

  // ---- the run ----

  def execute(): String = {
    val loadStart = Bench.loadavg()
    // Each set-up round stops and starts the session, generates the inputs
    // and runs the untimed warm-up on its own directories; setup_s is the
    // rounds' median (plus the fixture generation run.py made).
    val setups = (1 to setupRounds).map { r =>
      val span = spans.open("setup", root.id, -r)
      stopSession()
      spark = newSession()
      spark.sparkContext.setLogLevel("ERROR")
      try warmUp(span, r)
      catch { case NonFatal(e) => fail(s"warm-up $r: ${error(e)}") }
      span.close()
      span.seconds
    }
    // (wall s, process CPU s) of each op that passed its checks.
    val samples = workload match {
      case "daily_pipeline" => daily()
      case "incremental_append" => incremental()
      case "query_tail" => queryTail()
    }
    root.close()
    if (!trace) {
      metric("setup_s", genSeconds + median(setups))
      metric("op_p50_s", median(samples.map(_._1)))
      metric("cpu_s_per_op", median(samples.map(_._2)))
      metric("retained_heap_mb", retained)
    }
    val host = Seq(
      "nproc" -> cpus.toString,
      "master" -> Json.str(s"local[$cpus]"),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(Bench.loadavg()),
      "cpu_probe_ms" -> Bench.cpuProbeMs().toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
    ).map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    if (trace) {
      Files.createDirectories(Paths.get(traces))
      Files.write(Paths.get(traces, s"$workload-seed$seed.json"),
        spans.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    stopSession()
    if (stub != null) stub.stop()
    deleteTree(opDir)
    def arr(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val ms = metrics.map { case (k, v) => s"\"$k\":${Json.num(v)}" }
      .mkString("{", ",", "}")
    s"""{"workload":"$workload","seed":$seed,"attempted":$attempted,""" +
      s""""failed":$failed,"failures":${failures.map(Json.str)
        .mkString("[", ",", "]")},"samples":${arr(samples.map(_._1))},""" +
      s""""setups":${arr(setups)},"metrics":$ms,"host":$host}"""
  }

  /** Set-up rounds; the first pays the JVM's cold start. query_tail's
    * warm-up pass alone takes about 30 s on 4 cores, so it sets up once.
    */
  private val setupRounds = if (workload == "query_tail") 1 else 2

  /** One set-up round's inputs and warm-up, on directories of its own. */
  private def warmUp(span: Span, round: Int): Unit = workload match {
    case "daily_pipeline" =>
      // The timed op, checks included, on a smaller day of its own: it
      // runs the same code, and the op's cost is mostly per job, not per
      // row, so a 100K-row day would warm little more.
      prepareDaily(round)
      pipelineOp(spans.open("op", span.id, -round),
        opDir.resolve(s"warm-$round").toString, "/warm.csv", warmCdc,
        traced = false)
    case "incremental_append" =>
      // A short history of its own: appends, a readLatest and a compact.
      val h = new History(opDir.resolve(s"warm-$round").toString,
        new CdcGen.KeySpace(seed + round))
      (0 until 3).foreach(d => h.append(spans.open("op", span.id, -round), d,
        traced = false))
      h.readLatest(spans.open("op", span.id, -round), traced = false)
      h.compact(spans.open("op", span.id, -round), traced = false)
      deleteTree(Paths.get(h.dir))
    case "query_tail" =>
      // The warm-up pass runs on the timed fixture: it compiles the plans
      // the timed passes run, and its result hashes are the first
      // repetition those passes must reproduce.
      queryPass(span, traced = false, collect = true)
      settle()
  }

  // ---- daily_pipeline ----

  /** The reference's row gate (≥100K rows) sets the input size. */
  private val CdcRows = 100000
  private val DupShare = 0.03
  private val Range = ("datavalue", 0.0, 100.0)

  /** Rows of a warm-up day. */
  private val WarmRows = 20000

  private var cdc: CdcGen.Batch = _
  private var warmCdc: CdcGen.Batch = _
  private var stub: LoopbackStub = _

  private def prepareDaily(round: Int): Unit = {
    val space = new CdcGen.KeySpace(seed)
    cdc = CdcGen.batch(seed, space, 0, CdcRows, DupShare)
    warmCdc = CdcGen.batch(seed + round, space, CdcRows, WarmRows, DupShare)
    if (stub == null) stub = new LoopbackStub
    stub.serve("/cdc.csv", cdc.bytes)
    stub.serve("/warm.csv", warmCdc.bytes)
  }

  /** The reference's checks: ≥100K rows (the batch's own size on a
    * warm-up day), ≥5 years, ≥10 locations, nulls, duplicates and the
    * DataValue range.
    */
  private def pipelineChecks(minRows: Long)(df: DataFrame)
      : Seq[Checks.Check] = Seq(
    Checks.rowCountMin(minRows),
    Checks.distinctMin("yearstart", 5),
    Checks.distinctMin("locationabbr", 10),
    Checks.nullCount("yearstart"),
    Checks.nullCount("locationabbr"),
    Checks.nullCount("report_date"),
    Checks.duplicateCount(df),
    Checks.rangeCheck(Range._1, Range._2, Range._3))

  /** One fetch → extract → load → validate run into fresh dirs under
    * `dir`. Untraced it is one `Pipeline.runFromUrl` call; traced it makes
    * the same four stage calls runFromUrl makes, each in a layer span.
    */
  private def runPipeline(url: String, in: CdcGen.Batch, dir: String,
      op: Span, traced: Boolean): Pipeline.RunReport = {
    val landing = s"$dir/landing/cdc.csv"
    val staging = s"$dir/staging"
    val analytics = s"$dir/analytics"
    val audit = Some(s"$dir/audit")
    val required = Schemas.RequiredCdcColumns
    val checks = pipelineChecks(in.truth.distinct) _
    if (!traced)
      Pipeline.runFromUrl(spark, url, landing, staging, analytics, audit,
        checks, required, Fetch.Config(), Some(Range))
    else {
      val stages = mutable.ArrayBuffer.empty[Pipeline.StageReport]
      def stage(name: String)(s: => Pipeline.StageReport): Boolean = {
        stages += layer(name, op, traced)(s)
        stages.last.ok
      }
      stage("fetch")(Pipeline.fetch(url, landing, Fetch.Config())) &&
        stage("extract")(Pipeline.extract(spark, landing, staging)) &&
        stage("load")(Pipeline.load(spark, staging, analytics, audit,
          Some(Range))) &&
        stage("validate")(Pipeline.validate(spark, analytics, checks,
          required))
      Pipeline.RunReport(stages.toSeq)
    }
  }

  private val CheckValue = """(\S+)=(\S+):(ok|warn|FAIL)""".r
  private val FetchDetail = """attempts=(\d+) bytes=(\d+)""".r

  /** Outside the timer: the op's outputs against the generator's truth.
    * Returns the first mismatch, if any, and the op's ledger counts.
    */
  private def checkPipeline(rep: Pipeline.RunReport, in: CdcGen.Batch,
      dir: String): (Option[String], Map[String, Double]) = {
    val t = in.truth
    if (rep.exitCode != 0)
      return (Some(s"exit code ${rep.exitCode}: " +
        rep.stages.filterNot(_.ok).map(s => s"${s.name} ${s.detail}")
          .mkString("; ")), Map.empty)
    val got = CheckValue.findAllMatchIn(rep.stages.last.detail)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val want = Map(
      s"row_count_min_${t.distinct}" -> t.distinct.toDouble,
      "distinct_yearstart_min_5" -> t.years.toDouble,
      "distinct_locationabbr_min_10" -> t.locations.toDouble,
      "nulls_yearstart" -> 0.0,
      "nulls_locationabbr" -> 0.0,
      "nulls_report_date" -> t.nullDates.toDouble,
      "duplicate_rows" -> 0.0,
      "range_datavalue" -> t.outOfRange.toDouble)
    val rowsIn = spark.read.parquet(s"$dir/staging").count()
    val rowsOut = spark.read.parquet(s"$dir/analytics").count()
    val audited =
      spark.read.option("header", "true").csv(s"$dir/audit").count()
    val bytesOut = dataFiles(s"$dir/analytics").map(Files.size).sum
    val fetched = FetchDetail.findFirstMatchIn(rep.stages.head.detail)
    val counts = Map(
      "fetch_attempts" -> fetched.fold(Double.NaN)(_.group(1).toDouble),
      "fetch_bytes" -> fetched.fold(Double.NaN)(_.group(2).toDouble),
      "rows_in" -> rowsIn.toDouble,
      "rows_out" -> rowsOut.toDouble,
      "rows_rejected" -> (rowsIn - rowsOut).toDouble,
      "analytics_bytes_per_input_byte" -> bytesOut.toDouble / in.bytes.length)
    val bad = want.collect { case (k, v) if !got.get(k).contains(v) =>
      s"check $k=${got.getOrElse(k, "missing")} want $v" }.toSeq ++
      Seq(("staging rows", rowsIn, t.lines),
        ("analytics rows", rowsOut, t.distinct),
        ("audit rows", audited, t.outOfRange))
        .collect { case (n, g, w) if g != w => s"$n $g want $w" }
    (bad.headOption, counts)
  }

  /** One pipeline op under the open span `op` over the batch `in` served
    * at `path`, into fresh dirs under `dir`: the span closes when the run
    * returns; checks against the truth, the ledger counts and the cleanup
    * follow outside it. Returns whether the op passed.
    */
  private def pipelineOp(op: Span, dir: String, path: String,
      in: CdcGen.Batch, traced: Boolean): Boolean = {
    attempted += 1
    val rep =
      try Some(runPipeline(stub.url(path), in, dir, op, traced))
      catch { case NonFatal(e) => fail(s"op ${op.op}: ${error(e)}"); None }
    op.close()
    attribute()
    val ok = rep.exists { r =>
      val (bad, counts) =
        try checkPipeline(r, in, dir)
        catch { case NonFatal(e) =>
          (Some(s"check: ${error(e)}"), Map.empty[String, Double]) }
      bad.foreach(why => fail(s"op ${op.op}: $why"))
      op.counters ++= counts
      bad.isEmpty
    }
    deleteTree(Paths.get(dir))
    settle()
    ok
  }

  private def daily(): Seq[(Double, Double)] = {
    val samples = mutable.ArrayBuffer.empty[(Double, Double)]
    val traced = mutable.ArrayBuffer.empty[Span]
    val untraced = mutable.ArrayBuffer.empty[Double]
    closedLoop(if (trace) 2 else 1) { i =>
      val on = trace && i % 2 == 0
      tracing(on)
      val op = spans.open("op", root.id, i)
      if (pipelineOp(op, opDir.resolve(s"op-$i").toString, "/cdc.csv", cdc,
          on)) {
        samples += ((op.seconds, op.cpuSeconds))
        if (on) traced += op else untraced += op.seconds
      }
    }
    if (trace) {
      val p = "daily_pipeline"
      val ops = traced.toSeq
      def med(ss: Seq[Span], c: String) =
        median(ss.map(_.counters.getOrElse(c, Double.NaN)))
      val fetches = layersOf(ops, "fetch")
      metric(s"$p.fetch.s", median(fetches.map(_.seconds)))
      metric(s"$p.fetch.gc_s", med(fetches, "gc_s"))
      metric(s"$p.fetch.bytes", med(ops, "fetch_bytes"))
      metric(s"$p.fetch.attempts", med(ops, "fetch_attempts"))
      Seq("extract", "load", "validate").foreach { l =>
        val ls = layersOf(ops, l)
        metric(s"$p.$l.s", median(ls.map(_.seconds)))
        LayerCounters.foreach(c => metric(s"$p.$l.$c", med(ls, c)))
      }
      Seq("rows_in", "rows_out", "rows_rejected").foreach { c =>
        metric(s"$p.load.$c", med(ops, c))
      }
      metric(s"$p.load.analytics_bytes_per_input_byte",
        med(ops, "analytics_bytes_per_input_byte"))
      metric(s"$p.trace.overhead_s",
        median(ops.map(_.seconds)) - median(untraced.toSeq))
    }
    samples.toSeq
  }

  // ---- incremental_append ----

  private val DeltaRows = 5000
  private val CorrectionShare = 0.1

  /** Delta `d`'s load timestamp: one day apart, so later deltas win. */
  private def dayStamp(d: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1704067200000L + d * 86400000L)

  /** The delta as the engine receives it: an explicitly typed CSV read
    * (no inference pass) with normalized column names.
    */
  private def deltaFrame(path: String): DataFrame = {
    val ints = Set("YearStart", "YearEnd", "LocationID")
    val doubles = Set("DataValue", "DataValueAlt", "Low-Confidence-Limit",
      "High Confidence Limit")
    val schema = StructType(CdcGen.Header.map { h =>
      StructField(h, if (ints(h)) IntegerType
        else if (doubles(h)) DoubleType else StringType)
    })
    Schemas.normalizeColumns(Sources.readCsv(spark, path, schema))
  }

  /** One incrementally-loaded table under `dir`, fed daily deltas of
    * [[DeltaRows]] new keys of `space` plus corrections of keys from
    * earlier deltas. Each call is one op under the given open span; it
    * closes the span, checks the result against the generator's truth
    * outside it and returns whether the op passed.
    */
  private final class History(val dir: String, space: CdcGen.KeySpace) {
    val table = s"$dir/table"
    /** Distinct keys appended so far: the latest-per-key count. */
    var keys = 0L

    private def run(op: Span, what: String)(body: => Option[String])
        : Boolean = {
      attempted += 1
      val bad =
        try body
        catch { case NonFatal(e) => op.close(); Some(error(e)) }
      attribute()
      bad.foreach(why => fail(s"$what: $why"))
      bad.isEmpty
    }

    /** Delta `d` through `Pipeline.appendCleaned` with its day's stamp. */
    def append(op: Span, d: Int, traced: Boolean): Boolean = {
      val rng = new java.util.SplittableRandom(seed * 1000003L + d)
      val corrections =
        if (keys == 0) Array.empty[Long]
        else Array.fill((DeltaRows * CorrectionShare).toInt)(
          space.key(rng.nextLong(keys))).distinct
      val b = CdcGen.batch(seed * 31 + d, space, keys, DeltaRows, DupShare,
        corrections)
      val csv = Paths.get(dir, s"delta-$d.csv")
      Files.createDirectories(csv.getParent)
      Files.write(csv, b.bytes)
      val files0 = if (Files.exists(Paths.get(table))) dataFiles(table).size
        else 0
      val ok = run(op, s"append $d") {
        val n = layer("append", op, traced) {
          Pipeline.appendCleaned(deltaFrame(csv.toString), table,
            Some(dayStamp(d)))
        }
        op.close()
        keys += DeltaRows
        op.counters("files_written") = dataFiles(table).size - files0
        op.counters("rows_in") = b.truth.lines.toDouble
        op.counters("rows_written") = n.toDouble
        if (n == b.truth.distinct) None
        else Some(s"wrote $n rows want ${b.truth.distinct}")
      }
      Files.deleteIfExists(csv)
      ok
    }

    /** A consumer fully materializes `Pipeline.readLatest`. */
    def readLatest(op: Span, traced: Boolean): Boolean = {
      val files = dataFiles(table).size
      run(op, s"readLatest after $keys keys") {
        val n = layer("latest_read", op, traced) {
          Pipeline.readLatest(spark, table, CdcGen.Keys)
            .queryExecution.toRdd.count()
        }
        op.close()
        op.counters("files_scanned") = files
        if (n == keys) None else Some(s"$n rows want $keys")
      }
    }

    /** `Pipeline.compact`, then the compacted table's row count. */
    def compact(op: Span, traced: Boolean): Boolean =
      run(op, "compact") {
        val rep = layer("compact", op, traced) {
          Pipeline.compact(spark, table, CdcGen.Keys)
        }
        op.close()
        val n = Pipeline.readTable(spark, table).count()
        if (!rep.ok) Some(rep.detail)
        else if (n == keys) None
        else Some(s"compacted table $n rows want $keys")
      }
  }

  private def incremental(): Seq[(Double, Double)] = {
    val h = new History(opDir.resolve("history").toString,
      new CdcGen.KeySpace(seed))
    val samples = mutable.ArrayBuffer.empty[(Double, Double)]
    val appends = mutable.ArrayBuffer.empty[Span]
    val traced = mutable.ArrayBuffer.empty[Span]
    val untraced = mutable.ArrayBuffer.empty[Double]
    closedLoop(if (trace) 2 else 1) { i =>
      val on = trace && i % 2 == 0
      tracing(on)
      val op = spans.open("op", root.id, i)
      if (h.append(op, i, on)) {
        samples += ((op.seconds, op.cpuSeconds))
        appends += op
        if (on) traced += op else untraced += op.seconds
      }
      settle()
    }
    // After the window, traced or not: a consumer fully materializes the
    // current state once, then the table is compacted.
    tracing(trace)
    val readOp = spans.open("read", root.id, -1)
    val read = h.readLatest(readOp, trace)
    val compactOp = spans.open("compact", root.id, -1)
    val compacted = h.compact(compactOp, trace)
    deleteTree(Paths.get(h.dir))
    settle()
    if (trace) {
      val p = "incremental_append"
      def med(ss: Seq[Span], c: String) =
        median(ss.map(_.counters.getOrElse(c, Double.NaN)))
      def put(l: String, ops: Seq[Span]): Unit = {
        val ls = layersOf(ops, l)
        metric(s"$p.$l.s", median(ls.map(_.seconds)))
        LayerCounters.foreach(c => metric(s"$p.$l.$c", med(ls, c)))
      }
      put("append", traced.toSeq)
      put("latest_read", if (read) Seq(readOp) else Nil)
      put("compact", if (compacted) Seq(compactOp) else Nil)
      val all = appends.toSeq
      metric(s"$p.append.p90_s", percentile(all.map(_.seconds), 0.9))
      metric(s"$p.append.files_written", med(all, "files_written"))
      metric(s"$p.append.rows_written_per_row_in",
        all.map(_.counters("rows_written")).sum /
          all.map(_.counters("rows_in")).sum)
      metric(s"$p.latest_read.files_scanned",
        if (read) readOp.counters("files_scanned") else Double.NaN)
      metric(s"$p.trace.overhead_s",
        median(traced.toSeq.map(_.seconds)) - median(untraced.toSeq))
    }
    samples.toSeq
  }

  // ---- query_tail ----

  private val hashes = mutable.LinkedHashMap.empty[String, mutable.Set[Long]]
  /** The warm-up pass's rows, for the oracle comparison. */
  private val oracleRows =
    mutable.HashMap.empty[String, (Array[InternalRow], StructType)]
  private var passes = 0

  /** One pass over [[Queries]] under `op`. Each query's construction,
    * planning and full-plan execution are its three layer spans; the state
    * reset happens outside them. Execution hashes the rows on the
    * executors ([[executorHash]]), except on the untimed warm-up pass,
    * which collects them for the oracle comparison. Returns each query's
    * (wall s, process CPU s) when every query succeeded.
    */
  private def queryPass(op: Span, traced: Boolean, collect: Boolean)
      : Option[Seq[(Double, Double)]] = {
    passes += 1
    val times = Queries.flatMap { q =>
      attempted += 1
      try {
        val df = layer(s"$q.construct", op, traced) {
          SparkEntry.queries(q)(spark, fixture.get)
        }
        layer(s"$q.plan", op, traced)(df.queryExecution.executedPlan)
        val hash = layer(s"$q.execute", op, traced) {
          if (!collect) executorHash(df)
          else {
            val rows = df.queryExecution.executedPlan.executeCollect()
            oracleRows(q) = (rows, df.schema)
            resultHash(rows.iterator, df.schema)
          }
        }
        hashes.getOrElseUpdate(q, mutable.Set.empty) += hash
        val ls = Seq("construct", "plan", "execute")
          .map(l => layersOf(Seq(op), s"$q.$l").head)
        Some((ls.map(_.seconds).sum, ls.map(_.cpuSeconds).sum))
      } catch { case NonFatal(e) =>
        fail(s"$q: ${error(e)}")
        None
      } finally Bench.resetState(spark)
    }
    if (times.size == Queries.size) Some(times) else None
  }

  private def queryTail(): Seq[(Double, Double)] = {
    val samples = mutable.ArrayBuffer.empty[(Double, Double)]
    val geomeans = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Span]
    val untraced = mutable.ArrayBuffer.empty[Double]
    closedLoop(if (trace) 2 else 1) { i =>
      val on = trace && i % 2 == 0
      tracing(on)
      val op = spans.open("op", root.id, i)
      val times = queryPass(op, on, collect = false)
      op.close()
      attribute()
      settle()
      times.foreach { ts =>
        val wall = ts.map(_._1).sum
        op.counters("pass_s") = wall
        samples += ((wall, ts.map(_._2).sum))
        geomeans += math.exp(ts.map(t => math.log(t._1)).sum / ts.size)
        if (on) traced += op else untraced += wall
      }
    }
    // Outside every timer: every pass must give the same rows as the
    // warm-up pass, whose rows go to parquet for the oracle comparison
    // run.py makes.
    hashes.foreach { case (q, hs) =>
      if (hs.size > 1) {
        failed += passes
        failures += s"$q: result hash differs across passes"
      }
    }
    val results = s"$work/results"
    Files.createDirectories(Paths.get(results))
    Files.write(Paths.get(results, "oracle_sql.json"), Queries
      .map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    oracleRows.foreach { case (q, (rows, schema)) =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val ext = rows.toSeq.map(r => toRow(r).asInstanceOf[Row])
      spark.createDataFrame(ext.asJava, schema).coalesce(1).write
        .mode("overwrite").parquet(s"$results/$q")
    }
    if (trace) {
      val ops = traced.toSeq
      Queries.foreach { q =>
        val ls = Seq("construct", "plan", "execute")
          .map(l => l -> layersOf(ops, s"$q.$l"))
        ls.foreach { case (l, ss) =>
          metric(s"query_tail.$q.$l.s", median(ss.map(_.seconds)))
        }
        // Per traced pass, the query's three layers summed.
        def total(c: String): Double = median(ops.indices.map { k =>
          ls.map(_._2(k).counters.getOrElse(c, Double.NaN)).sum })
        Seq("jobs", "task_cpu_s", "idle_s", "shuffle_write_bytes")
          .foreach(c => metric(s"query_tail.$q.$c", total(c)))
      }
      metric("query_tail.geomean_s", median(geomeans.toSeq))
      metric("query_tail.trace.overhead_s",
        median(ops.map(_.counters("pass_s"))) - median(untraced.toSeq))
    }
    samples.toSeq
  }
}
