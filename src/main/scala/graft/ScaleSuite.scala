package graft

import org.apache.spark.sql.SparkSession

/** Full-registry scale proof: run EVERY registry query at the bench
  * fixture (sf0.1) and at `factor`× that scale (default 10× = "sf1"),
  * same JVM, same session, and write per-query growth factors to
  * `BENCH_SF1.json`. This turns the 100 TB plan pins into measurements:
  * a query whose plan is genuinely linear should grow ≈×10 (minus
  * fixed planning overhead); anything materially above lands in a
  * `superlinear` list to be fixed or documented.
  *
  * Methodology (deliberately different from Bench's gate numbers):
  * growth factors must compare steady-state SCAN+COMPUTE cost, so each
  * fixture gets an untimed pre-pass over the whole registry first —
  * that absorbs JIT, codegen, and every Scratch-cached fixture build
  * (chunkcsv layouts, incremental history tables, bucketed tables)
  * which Bench bills to the first timed run. Base and scaled runs use
  * identical methodology, so the ratio is internally consistent even
  * when the host is noisy (same-JVM, interleaved in time).
  *
  * Every execution (pre-pass included) runs under a watchdog: the query
  * executes on its own thread inside a cancellable job group, and a
  * query that exceeds the per-query timeout is cancelled and recorded
  * as `timeout` — a quadratic blow-up gets NAMED, never stalls the
  * suite.
  *
  * Every row also carries `prior_sec` and `x_vs_prior`: its scaled wall
  * in the nearest committed ledger at or below `factor` (the one the
  * pre-flight guards read), and this run's scaled wall over it — so a
  * run at a new factor reads against the last decade without paying
  * that decade's fixture again.
  *
  * Usage: runMain graft.ScaleSuite [factor] [q_name ...] (default 10)
  *
  * With query names (subset mode) only those queries and the builds
  * they read ([[Materializations.consumedBy]]) run, under the same
  * watchdog and estimator, and the line goes to `target/scale_subset.json`
  * — never to a committed `BENCH_SF*.json` name.
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default sf0.1), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_SCALE_TIMEOUT (sec/query, default 600 — raised from
  *      300 after the r16 f52 refresh ran at the default and
  *      m_triangle_state's ~757 s build overran its 2× watchdog,
  *      cascading recompute timeouts into the four triangle-state
  *      consumers; 600 is the dial the r15 f52 decade actually ran at).
  */
object ScaleSuite {

  /** One measured query execution. For a COMBINED result (after the
    * min-of-two-runs estimator) `sec` is the min, and `pre`/`timed` carry
    * the two raw run times so a large spread — a genuine intermittent
    * regression that one lucky run would otherwise hide — stays visible
    * in the ledger instead of silently collapsing into the min.
    */
  private[graft] final case class Res(sec: Double, status: String,
      shuffle: Long, pre: Double = -1.0, timed: Double = -1.0,
      cost: Bench.TaskSnap = Bench.TaskSnap(0L, -1L, -1L, -1L, -1L))

  /** Execute one thunk on a watchdog thread inside a cancellable job
    * group; cancel at the deadline and record `timeout`. Returns the result
    * plus the thread if it survived the bounded post-cancel join — a
    * zombie the caller must drain (its own ledger line) before the next
    * timed phase, or the stall gets billed to an innocent row.
    */
  private[graft] def watchdogRun(spark: SparkSession,
      tally: Bench.ShuffleTally, name: String, deadlineSec: Long)
      (body: () => Unit): (Res, Option[Thread]) = {
    val sc = spark.sparkContext
    val group = s"scale:$name"
    @volatile var status = "ok"
    val s0 = tally.settledSnap()
    val t = new Thread(() => {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      try body()
      catch { case scala.util.control.NonFatal(_) =>
        if (status == "ok") status = "failed" }
      finally sc.clearJobGroup()
    }, s"scale-$name")
    t.setDaemon(true)
    val t0 = System.nanoTime()
    t.start()
    t.join(deadlineSec * 1000)
    var zombie: Option[Thread] = None
    if (t.isAlive) {
      status = "timeout"
      sc.cancelJobGroup(group)
      t.join(60000) // bounded drain; a daemon thread can't block exit
      if (t.isAlive) zombie = Some(t)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val s1 = tally.settledSnap()
    val res = Res(sec, status, s1.bytes - s0.bytes, cost = s1 - s0)
    Bench.resetState(spark)
    // Queries run in sorted name order, so a query scheduled right after
    // a multi-GB-shuffle neighbor inherits its GC debt — the r13 ledger
    // flagged q_vocab_topk at 15.4x (0.25 s -> 3.81 s) purely because it
    // follows the graph family; in isolation (same fixtures) it measures
    // 1.13x. Collect between queries so each measurement starts from a
    // settled heap.
    System.gc()
    (res, zombie)
  }

  /** Pre-flight dial guard — makes the r16 300 s-dial mistake
    * structurally unrepeatable: that refresh started a factor-52 decade
    * at a per-query timeout whose 2x build budget (600 s) was under
    * m_triangle_state's last-known ~757 s wall at that factor, and the
    * guaranteed build timeout cascaded recompute timeouts into all four
    * triangle-state consumers. Given a PRIOR committed ledger (the same
    * factor's, or a smaller decade's with `ratio` = factor/priorFactor,
    * the wall growth a linear cost model predicts), refuse to start when
    * (a) the largest ok-status priced build's scaled wall × ratio does
    * not fit the 2x build budget, (b) the prior run recorded scaled
    * timeouts at an effective dial >= the requested one (same dial, same
    * outcome — re-running buys no information), or (c) the largest
    * ok-status QUERY row's scaled wall × ratio does not fit the 1x query
    * budget — a dial can clear every build and still sit under a prior
    * per-query wall (q_triangles measured 319 s at f52; a 300 s dial
    * would re-time-out that row while passing the build rule).
    * Override with SPARK_GRAFT_SCALE_FORCE=1.
    *
    * `queryNames`: the QUERY set the caller will actually execute —
    * a subset run must not be refused on the wall of a query it never
    * runs, and a prior ledger's recorded timeout on an un-run query buys
    * the caller no information either way. None = the full registry.
    * Builds stay unfiltered (the conservative side).
    */
  private[graft] def timeoutGuard(priorLedger: String, timeoutSec: Long,
      ratio: Double = 1.0, queryNames: Option[Set[String]] = None)
      : Option[String] = {
    val priorDial = """"timeout_sec":(\d+)""".r
      .findFirstMatchIn(priorLedger).map(_.group(1).toLong)
    val priorTimeouts = """"scaled_timeout":\[([^\]]*)\]""".r
      .findFirstMatchIn(priorLedger).map(_.group(1).trim).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty)
      .filter(n => queryNames.forall(_.contains(n)))
      .mkString(",")
    val maxBuild = """"scaled":([0-9.]+),"x":[^,]*,"base_status":"[a-z]+","scaled_status":"ok"""".r
      .findAllMatchIn(priorLedger).map(_.group(1).toDouble)
      .foldLeft(0.0)(math.max)
    // ok QUERY rows: inline fields carry no status (base_pre follows x),
    // and non-measurements live in the scaled_timeout / scaled_failed
    // arrays — exclude both (a timeout's wall is the cutoff, a failure's
    // is time-to-crash).
    val notOk = Seq("scaled_timeout", "scaled_failed").flatMap { f =>
      (s""""$f":\\[([^\\]]*)\\]""").r.findFirstMatchIn(priorLedger)
        .map(_.group(1)).getOrElse("").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }.toSet
    val queryRow =
      """"([A-Za-z0-9_]+)":\{"base":[0-9.]+,"scaled":([0-9.]+),"x":[^,]*,"base_pre"""".r
    val maxQuery = queryRow.findAllMatchIn(priorLedger)
      .collect { case m if !notOk.contains(m.group(1)) &&
          queryNames.forall(_.contains(m.group(1))) =>
        m.group(2).toDouble }
      .foldLeft(0.0)(math.max)
    if (timeoutSec * 2 < maxBuild * ratio)
      Some(f"dial $timeoutSec s gives a ${timeoutSec * 2} s build budget " +
        f"< the prior ledger's largest ok build wall $maxBuild%.1f s x " +
        f"$ratio%.2f growth = ${maxBuild * ratio}%.1f s — the build WILL " +
        "time out and cascade; raise " +
        "SPARK_GRAFT_SCALE_TIMEOUT (or SPARK_GRAFT_SCALE_FORCE=1)")
    else if (timeoutSec < maxQuery * ratio)
      Some(f"dial $timeoutSec s (query budget is 1x the dial) < the " +
        f"prior ledger's largest ok query wall $maxQuery%.1f s x " +
        f"$ratio%.2f growth = ${maxQuery * ratio}%.1f s — that query " +
        "WILL time out; raise SPARK_GRAFT_SCALE_TIMEOUT (or " +
        "SPARK_GRAFT_SCALE_FORCE=1)")
    else if (priorTimeouts.nonEmpty &&
        priorDial.exists(timeoutSec <= _ * ratio))
      Some(s"prior ledger recorded scaled timeouts [$priorTimeouts] at " +
        s"dial ${priorDial.get} s; re-running at $timeoutSec s repeats " +
        "the mistake — raise SPARK_GRAFT_SCALE_TIMEOUT (or " +
        "SPARK_GRAFT_SCALE_FORCE=1)")
    else None
  }

  /** Pre-flight scratch-capacity guard — makes the r17 f104 burn (71
    * minutes to a predictable SPILL_OUT_OF_MEMORY) structurally
    * unrepeatable: the single-box peak scratch for a decade is the
    * largest shuffle write plus its concurrent reduce-wave spill
    * (≈ shuffle − execution memory; README "Fourth decade" arithmetic,
    * measured: f104's ~54 GB wedge shuffle peaked at ~94-108 GB against
    * 76 GB free, while f52's ~27 GB fit). Scale the prior ledger's
    * largest scaled shuffle by the factor ratio, estimate the peak, and
    * refuse — with the arithmetic printed — when it exceeds the scratch
    * filesystem's free bytes. Override with SPARK_GRAFT_SCALE_FORCE=1.
    *
    * `queryNames`: as in [[timeoutGuard]], the queries the caller will
    * run (None = the full registry). Only their rows and the rows of the
    * builds they read ([[Materializations.consumedBy]]) count: a subset
    * that reads no `m_triangle_state` must not be refused on that build's
    * wedge shuffle.
    */
  private[graft] def diskGuard(priorLedger: String, ratio: Double,
      freeBytes: Long, execBytes: Long,
      queryNames: Option[Set[String]] = None): Option[String] = {
    val counted = queryNames.map(q =>
      q ++ Materializations.consumedBy(q).map(_.name))
    val maxShuffle =
      """"([A-Za-z0-9_]+)":\{"base":[^{}]*?"scaled_shuffle":(\d+)""".r
        .findAllMatchIn(priorLedger)
        .collect { case m if counted.forall(_.contains(m.group(1))) =>
          m.group(2).toLong }
        .foldLeft(0L)(math.max)
    val est = maxShuffle * ratio
    val spillWave = math.max(0.0, est - execBytes)
    val peak = est + spillWave
    def gb(b: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(b / 1e9))
    if (peak > freeBytes)
      Some(s"estimated peak scratch ${gb(est)} GB shuffle (prior ledger " +
        s"max ${gb(maxShuffle.toDouble)} GB x ${String.format(
          java.util.Locale.ROOT, "%.2f", Double.box(ratio))} growth) + " +
        s"${gb(spillWave)} GB reduce-wave spill (shuffle - ${gb(
          execBytes.toDouble)} GB execution memory) = ${gb(peak)} GB > " +
        s"${gb(freeBytes.toDouble)} GB free — the decade WILL die " +
        "mid-build with SPILL_OUT_OF_MEMORY; free scratch, raise " +
        "SPARK_DRIVER_MEM, or SPARK_GRAFT_SCALE_FORCE=1")
    else None
  }

  /** Spark's unified-memory estimate for this JVM (the forked run JVM's
    * -Xmx is the SPARK_DRIVER_MEM dial): (heap − 300 MB reserve) × 0.6 —
    * 24 g ⇒ ~14 GB, the number the README's measured f104 spill
    * arithmetic implies.
    */
  private[graft] def executionMemoryBytes(): Long =
    ((Runtime.getRuntime.maxMemory - 300L * 1024 * 1024) * 0.6).toLong

  /** Scratch filesystem the shuffle actually lands on — the path
    * [[diskGuard]]'s free-space probe must measure. Spark resolves
    * local dirs as SPARK_LOCAL_DIRS (first entry) else spark.local.dir
    * else java.io.tmpdir; the guard runs BEFORE any SparkSession
    * exists, so it walks the same chain over the env/property view the
    * session will see. The previous hardcoded /tmp probed the wrong
    * filesystem whenever the scratch was relocated.
    */
  private[graft] def scratchPath(): java.nio.file.Path =
    java.nio.file.Paths.get(
      sys.env.get("SPARK_LOCAL_DIRS")
        .map(_.split(",")(0).trim).filter(_.nonEmpty)
        .orElse(sys.props.get("spark.local.dir").filter(_.nonEmpty))
        .getOrElse(System.getProperty("java.io.tmpdir", "/tmp")))

  /** Nearest committed prior-decade ledger at or below `factor`: scan the
    * working directory for ScaleSuite ledger names (BENCH_SF{n} = factor
    * 10n, BENCH_SFx{n} = factor n; the committed *_graph ledger has a
    * different row shape and is excluded by the pattern) and return the
    * largest-factor match. This is what lets the guards fire on a FRESH
    * factor (the f104 attempt had no f104 ledger to read — only the f52
    * one that already predicted the failure).
    */
  private[graft] def priorLedgerFile(factor: Int,
      dir: java.nio.file.Path = java.nio.file.Paths.get("."))
      : Option[(Int, java.nio.file.Path)] = {
    val pat = """BENCH_SF(x?)(\d+)\.json""".r
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case pat(x, n) =>
            val f = if (x == "x") n.toInt else n.toInt * 10
            if (f <= factor) Some(f -> p) else None
          case _ => None
        }
      }.toSeq.sortBy(-_._1).headOption
    } finally listing.close()
  }

  /** The executor-cost fields of one ledger row (queries and builds). */
  private[graft] def costJson(prefix: String, r: Res): String =
    s""""${prefix}_cpu_ms":${r.cost.cpuMs},""" +
      s""""${prefix}_gc_ms":${r.cost.gcMs},""" +
      s""""${prefix}_deser_ms":${r.cost.deserMs},""" +
      s""""${prefix}_spill_bytes":${r.cost.spillBytes}"""

  /** Ledger file name for a factor: 10/20/... land on the effective-SF
    * names (BENCH_SF1, ...), everything else on BENCH_SFx{factor}.
    */
  private[graft] def ledgerName(factor: Int): String =
    if (factor % 10 == 0) s"BENCH_SF${factor / 10}.json"
    else s"BENCH_SFx$factor.json"

  /** Where a subset run writes: a partial ledger must never be read back
    * as a committed decade by [[priorLedgerFile]].
    */
  private[graft] val subsetOut = "target/scale_subset.json"

  /** Per-name (scaled_sec, scaled_shuffle) out of a committed ledger,
    * skipping names the prior run recorded as scaled timeouts OR scaled
    * failures (a timeout's `scaled` field is the watchdog cutoff and a
    * failure's is time-to-crash with a partial shuffle — neither is a
    * measurement a growth baseline may rest on). Query rows carry
    * failure status only in the ledger-level `scaled_failed` array
    * (their inline fields have no status), so both arrays are parsed.
    */
  private[graft] def priorScaled(ledger: String)
      : Map[String, (Double, Long)] = {
    def names(field: String): Set[String] =
      (s""""$field":\\[([^\\]]*)\\]""").r
        .findFirstMatchIn(ledger).map(_.group(1)).getOrElse("")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet
    val timedOut = names("scaled_timeout") ++ names("scaled_failed")
    val row = ("\"([A-Za-z0-9_]+)\":\\{\"base\":[0-9.]+," +
      "\"scaled\":([0-9.]+),([^{}]*?)\"scaled_shuffle\":([0-9]+)").r
    row.findAllMatchIn(ledger).collect {
      // materialization rows carry their status inline; query rows list
      // timeouts in scaled_timeout — skip both kinds of non-measurement
      case m if !timedOut.contains(m.group(1)) &&
          !m.group(3).contains("\"scaled_status\":\"timeout\"") &&
          !m.group(3).contains("\"scaled_status\":\"failed\"") =>
        m.group(1) -> (m.group(2).toDouble, m.group(4).toLong)
    }.toMap
  }

  /** Queries whose DECLARED cost model is quadratic in the data factor —
    * exhaustive baselines kept under the oracle precisely so their
    * scalable production twins (the map values) have ground truth to be
    * measured against. They run and report like every other row, but are
    * flagged against factor² (the growth their cost model predicts)
    * instead of factor, and the ledger lists them under
    * `quadratic_baselines` with the twin's growth beside them so the
    * contrast is one committed line. Everything else in the registry is
    * held to the linear flag.
    */
  private val quadraticBaselines: Map[String, String] = Map(
    // all-pairs exact cosine: O(n²) by definition; the banded-LSH twin
    // verifies against it
    "q_sim_neardup" -> "q_sim_neardup_lsh",
    // fixed 10-centroid SemDeDup: cell size grows with the corpus, so the
    // within-cell pair join is ×factor²; the corpus-scaled centroid dial
    // keeps cells constant-size
    "q_semdedup" -> "q_semdedup_scaled",
    // fixed 16-plane LSH: candidate volume is true-pairs + n²/2^bits of
    // random band collisions — quadratic once the collision floor
    // dominates (the published reason band width must grow ~log n). The
    // default-named 32-plane dial is the production re-dial (measured
    // 50× vs 8× at factor 26); the narrow dial carries the lsh16 suffix
    "q_sim_neardup_lsh16" -> "q_sim_neardup_lsh",
  )

  def main(args: Array[String]): Unit = {
    val loadStart = Bench.loadavg()
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val subset = args.drop(1).toSeq.distinct
    val unknown = subset.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val queryNames = Option(subset.toSet).filter(_.nonEmpty)
    val base = Bench.envSfDir()
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_TIMEOUT", "600").toLong
    val outPath = java.nio.file.Paths.get(
      if (subset.isEmpty) ledgerName(factor) else subsetOut)
    // Pre-flight guards against the NEAREST committed decade at or below
    // this factor (same-factor ledger when one exists): the dial guard
    // scaled by the factor ratio, plus the scratch-capacity guard — a
    // fresh factor with no own ledger (the r17 f104 burn) is exactly the
    // case where the smaller decade already predicts the failure.
    val prior = priorLedgerFile(factor).map { case (priorFactor, path) =>
      (priorFactor, path, new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8))
    }
    if (!sys.env.get("SPARK_GRAFT_SCALE_FORCE").contains("1")) {
      prior.foreach { case (priorFactor, path, ledger) =>
        val ratio = factor.toDouble / priorFactor
        timeoutGuard(ledger, timeoutSec, ratio, queryNames)
          .orElse(diskGuard(ledger, ratio,
            java.nio.file.Files.getFileStore(scratchPath()).getUsableSpace,
            executionMemoryBytes(), queryNames))
          .foreach { reason =>
            System.err.println(s"REFUSING factor-$factor decade " +
              s"(prior: factor-$priorFactor ${path.getFileName}): $reason")
            sys.exit(2)
          }
      }
    }
    val priorRows = prior.fold(Map.empty[String, (Double, Long)])(
      p => priorScaled(p._3))
    val spark = Bench.session(Bench.envCpus())
    val sc = spark.sparkContext

    val scaled = s"/tmp/graft-sf1/f$factor"
    ScaleFixture.build(spark, base, scaled, factor)

    val tally = new Bench.ShuffleTally
    sc.addSparkListener(tally)

    // Watchdogged threads that survived cancel + the 60 s post-cancel
    // join (still inside a Spark call or a Scratch build). Drained —
    // with the wait measured and ledgered — before any timed run that
    // could otherwise inherit the stall.
    val zombies = scala.collection.mutable.ArrayBuffer.empty[(String, Thread)]
    val zombieDrains = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Join leftover watchdog zombies before a timed phase: a zombie
      * parked in Scratch.cached's computeIfAbsent holds the map bin, and
      * the first consumer of that key would block on it — billing the
      * zombie's drain to the consumer's row. Waiting HERE (bounded, one
      * extra timeout budget) makes the drain its own ledger line; a
      * thread still alive after that is recorded `exited:false` so
      * downstream rows for that fixture are known-suspect.
      */
    def drainZombies(where: String): Unit = {
      val snap = zombies.synchronized { val s = zombies.toList; zombies.clear(); s }
      snap.foreach { case (zn, zt) =>
        val t0 = System.nanoTime()
        zt.join(timeoutSec * 1000)
        val sec = (System.nanoTime() - t0) / 1e9
        zombieDrains += s"""{"name":"$zn","at":"$where","drain_sec":${
          String.format(java.util.Locale.ROOT, "%.1f", Double.box(sec))
        },"exited":${!zt.isAlive}}"""
        if (zt.isAlive) zombies.synchronized { zombies += (zn -> zt) }
      }
    }

    /** One query under [[watchdogRun]]'s shared watchdog; a thread still
      * alive after the post-cancel join is a ZOMBIE — if it sits inside
      * Scratch.cached's computeIfAbsent, a later consumer of the same
      * key blocks on the map bin until it drains, and that stall would
      * be billed to the consumer's timed row. Track it so the suite can
      * verify it exited BEFORE the per-query runs start (drain time
      * becomes its own ledger line, not a distortion).
      */
    def runThunk(name: String, deadlineSec: Long)(body: () => Unit): Res = {
      val (res, zombie) = watchdogRun(spark, tally, name, deadlineSec)(body)
      zombie.foreach(t => zombies.synchronized { zombies += (name -> t) })
      res
    }

    def run(name: String, dir: String): Res =
      runThunk(name, timeoutSec)(() =>
        Bench.runToExhaustion(SparkEntry.queries(name)(spark, dir)))

    val names =
      if (subset.isEmpty) SparkEntry.queries.keys.toSeq.sorted else subset.sorted
    val builds =
      if (subset.isEmpty) Materializations.builds
      else Materializations.consumedBy(subset)

    // JIT/codegen warmup on the smallest fixture, untimed.
    names.foreach(n =>
      try Bench.runToExhaustion(
        SparkEntry.queries(n)(spark, Bench.warmupDir(base)))
      catch { case scala.util.control.NonFatal(_) => () })
    Bench.resetState(spark)

    def suite(dir: String): (Map[String, Res], Map[String, Res]) = {
      // Materialized-state builds run FIRST, TIMED, under the same
      // watchdog (×2 budget: a build is compute + a full write). This
      // prices the pay-once ingest cost as its own ledger line at BOTH
      // fixtures — before r15 the untimed pre-pass absorbed every build,
      // so the ledgers showed the families' steady state but never the
      // amortized cost the README's "pay the shuffle once" claim rests
      // on. The builds warm the exact Scratch keys the consumer queries
      // read, so per-query rows keep measuring steady-state reads.
      val mats = builds.map { b =>
        b.name -> runThunk(b.name, timeoutSec * 2)(() => b.run(spark, dir))
      }.toMap
      // A timed-out build may leave its thread parked inside
      // Scratch.cached — verify it exited before any consumer row is
      // timed, so the stall can't be billed to a steady-state read.
      drainZombies(s"post-mats:$dir")
      // Untimed pre-pass: builds every remaining Scratch-cached fixture
      // for this dir and reaches steady state. A query that fails or
      // times out here is recorded as such and NOT re-run (a second
      // 300 s stall would buy no information).
      val pre = names.map(n => n -> run(n, dir)).toMap
      names.map { n =>
        // Per-query time = min(pre-pass, timed run). The pre-pass bills
        // Scratch fixture builds to SOME queries, so min never picks an
        // inflated pre-pass — but where the pre-pass ran clean and the
        // timed run caught a noise spike (GC, page-cache eviction), min
        // recovers the steady-state cost. Same estimator on both
        // fixtures keeps the ratio internally consistent. Shuffle bytes
        // come from the timed run (deterministic per plan, and the
        // pre-pass tally includes fixture-build writes).
        n -> (if (pre(n).status == "ok") {
          val timed = run(n, dir)
          if (timed.status == "ok")
            // cost split follows the shuffle convention: the timed run's
            // tallies (deterministic per plan; the pre-pass includes
            // fixture-build work)
            Res(math.min(pre(n).sec, timed.sec), "ok", timed.shuffle,
              pre = pre(n).sec, timed = timed.sec, cost = timed.cost)
          else timed
        } else pre(n))
      }.toMap -> mats
    }

    val (baseRes, baseMats) = suite(base)
    val (scaledRes, scaledMats) = suite(scaled)

    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    def totalOf(m: Map[String, Res]): Double =
      m.values.collect { case r if r.status == "ok" => r.sec }.sum
    // Appended after each row's last field, so every ledger regex that
    // anchors on the earlier fields still matches.
    def priorJson(n: String, r: Res): String = {
      val p = priorRows.get(n).map(_._1)
      val x = p.collect { case ps if ps > 0 && r.status == "ok" =>
        fmt(r.sec / ps) }.getOrElse("null")
      s""","prior_sec":${p.fold("null")(fmt)},"x_vs_prior":$x"""
    }

    val perQuery = names.map { n =>
      val b = baseRes(n); val s = scaledRes(n)
      val x = if (b.status == "ok" && s.status == "ok" && b.sec > 0)
        fmt(s.sec / b.sec) else "null"
      val xs = if (b.status == "ok" && s.status == "ok" && b.shuffle > 0)
        fmt(s.shuffle.toDouble / b.shuffle) else "null"
      // base/scaled = min(pre-pass, timed run); the raw pair rides along
      // so a min/max spread (an intermittent regression one lucky run
      // would hide) is a visible ledger fact, not a collapsed one.
      def two(prefix: String, r: Res): String =
        if (r.pre < 0) s""""${prefix}_pre":null,"${prefix}_timed":null"""
        else s""""${prefix}_pre":${fmt(r.pre)},"${prefix}_timed":${
          fmt(r.timed)}"""
      // Executor cost split per side (timed-run tallies): cpu_ms growth
      // at linear bytes and flat gc is the measurement that attributes
      // a superlinear WALL to compute (checkpoint deserialization
      // included) rather than to memory pressure or host contention —
      // the r18 f78 graph rows carried exactly that attribution as
      // prose; these fields make it a ledger fact. Appended AFTER
      // x_shuffle so every existing ledger-row regex keeps matching.
      val xc = if (b.status == "ok" && s.status == "ok" && b.cost.cpuMs > 0)
        fmt(s.cost.cpuMs.toDouble / b.cost.cpuMs) else "null"
      s""""$n":{"base":${fmt(b.sec)},"scaled":${fmt(s.sec)},"x":$x,""" +
        two("base", b) + "," + two("scaled", s) + "," +
        s""""base_shuffle":${b.shuffle},"scaled_shuffle":${s.shuffle},""" +
        s""""x_shuffle":$xs,""" +
        costJson("base", b) + "," + costJson("scaled", s) +
        s""","x_cpu":$xc""" + priorJson(n, s) + "}"
    }.mkString("{", ",", "}")

    // Superlinear flag: materially above the growth the query's declared
    // cost model predicts (linear for the registry, factor² for the named
    // quadratic baselines) AND above the noise floor (sub-2 s absolute is
    // planning overhead territory).
    def overBudget(n: String): Boolean = {
      val b = baseRes(n); val s = scaledRes(n)
      val budget =
        if (quadraticBaselines.contains(n)) factor.toDouble * factor else factor.toDouble
      b.status == "ok" && s.status == "ok" &&
        s.sec > 2.0 && b.sec > 0 && s.sec / b.sec > budget * 1.5
    }
    val superlinear =
      names.filter(n => !quadraticBaselines.contains(n) && overBudget(n))

    // Shuffle-byte growth flag — the r12 lesson: on a 32-core box with
    // idle capacity, wall-clock under-flags (O(n×q) work grew 100× while
    // time grew 10×). Shuffle volume is load-independent, so hold it to
    // the same declared cost model. Floor: 64 MB scaled — a KB-sized
    // shuffle's growth ratio is metadata noise, and a shuffle that small
    // is not a 100 TB risk regardless of its exponent.
    //
    // CAVEAT (measured r14): this in-run ratio compares against the
    // sf0.1 base, and OVER-READS whenever a join crosses the broadcast
    // threshold between the fixtures — at base AQE broadcasts the small
    // side (zero shuffle on that edge), at 10× it correctly switches to
    // sort-merge, and a linear query reads as 20-80× byte growth
    // (q_graph_assortativity plans 2 BHJ + 2 SMJ at sf0.1 vs 4 SMJ at
    // f10). Rows in this list are therefore LEADS, not verdicts; the
    // authoritative byte gate is tools/shuffle_growth.py comparing two
    // POST-TRANSITION ledgers (f10 → f26), where a linear query must
    // grow ≈ the factor ratio.
    def shuffleOverBudget(n: String): Boolean = {
      val b = baseRes(n); val s = scaledRes(n)
      val budget =
        if (quadraticBaselines.contains(n)) factor.toDouble * factor
        else factor.toDouble
      b.status == "ok" && s.status == "ok" &&
        s.shuffle > 64L * 1024 * 1024 && b.shuffle > 0 &&
        s.shuffle.toDouble / b.shuffle > budget * 1.5
    }
    val superlinearShuffle =
      names.filter(n => !quadraticBaselines.contains(n) && shuffleOverBudget(n))
    val quadJson = quadraticBaselines.toSeq.sorted
        .filter { case (n, _) => names.contains(n) }.map { case (n, twin) =>
      // a subset run may not include the twin: its growth reads null
      def xOf(q: String): String =
        if (!names.contains(q)) "null" else {
          val b = baseRes(q); val s = scaledRes(q)
          if (b.status == "ok" && s.status == "ok" && b.sec > 0)
            fmt(s.sec / b.sec) else "null"
        }
      s""""$n":{"twin":"$twin","x":${xOf(n)},"twin_x":${xOf(twin)},""" +
        s""""over_budget":${overBudget(n)}}"""
    }.mkString("{", ",", "}")
    // Priced materializations: the pay-once builds' wall + shuffle bytes
    // at both fixtures, with growth factors. NOT in the superlinear flag
    // lists — a build's exponent is its family's documented cost model
    // (the wedge join is the suite's largest shuffle by design); the gate
    // is that the number EXISTS as a committed ledger line.
    val matJson = builds.map(_.name).map { mn =>
      val b = baseMats(mn); val s = scaledMats(mn)
      val x = if (b.status == "ok" && s.status == "ok" && b.sec > 0)
        fmt(s.sec / b.sec) else "null"
      val xs = if (b.status == "ok" && s.status == "ok" && b.shuffle > 0)
        fmt(s.shuffle.toDouble / b.shuffle) else "null"
      s""""$mn":{"base":${fmt(b.sec)},"scaled":${fmt(s.sec)},"x":$x,""" +
        s""""base_status":"${b.status}","scaled_status":"${s.status}",""" +
        s""""base_shuffle":${b.shuffle},"scaled_shuffle":${s.shuffle},""" +
        s""""x_shuffle":$xs,""" +
        costJson("base", b) + "," + costJson("scaled", s) +
        priorJson(mn, s) + "}"
    }.mkString("{", ",", "}")
    def lst(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = names.filter(n => scaledRes(n).status == "failed")
    val timedOut = names.filter(n => scaledRes(n).status == "timeout")
    val baseBad = names.filter(n => baseRes(n).status != "ok")

    val rows = Seq("lineitem", "orders", "events", "documents", "embeddings")
      .map(t => s""""$t":${
        spark.read.parquet(s"$scaled/$t.parquet").count()}""")
      .mkString("{", ",", "}")

    val line =
      s"""{"metric":"scale_suite","factor":$factor,"base_dir":"$base",""" +
      s""""scaled_dir":"$scaled","n_queries":${names.size},""" +
      s""""base_total":${fmt(totalOf(baseRes))},""" +
      s""""scaled_total":${fmt(totalOf(scaledRes))},""" +
      s""""timeout_sec":$timeoutSec,"scaled_rows":$rows,""" +
      s""""prior_ledger":${prior.fold("null")(p => s"\"${p._2.getFileName}\"")},""" +
      s""""base_not_ok":${lst(baseBad)},"scaled_failed":${lst(failed)},""" +
      s""""scaled_timeout":${lst(timedOut)},""" +
      s""""superlinear":${lst(superlinear)},""" +
      s""""superlinear_shuffle":${lst(superlinearShuffle)},""" +
      s""""quadratic_baselines":$quadJson,""" +
      // warmup_equals_base: when no smaller warmup fixture exists, the
      // untimed JIT warmup already ran every query against `base` itself
      // — the base-side build rows then read warm (~0 s) and the x
      // growth factors are meaningless. Ledger consumers must discount
      // base build numbers whenever this is true. zombie_drains: named
      // waits for watchdog threads that survived cancellation, each with
      // whether the thread actually exited before timed rows started.
      s""""materializations":$matJson,""" +
      s""""warmup_equals_base":${Bench.warmupDir(base) == base},""" +
      s""""zombie_drains":${zombieDrains.mkString("[", ",", "]")},""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"${Bench.loadavg()}",""" +
      s""""cpu_probe_ms":${Bench.cpuProbeMs()},"queries":$perQuery}"""
    // factor 10 over sf0.1 ≈ "sf1", 30 ≈ "sf3" — the ledger is named by
    // the effective scale (ledgerName, computed up top for the dial
    // guard) so multiple decades can sit side by side in git.
    java.nio.file.Files.write(outPath,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
