package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ScaleSuite pre-flight dial guard — the structural fix for the r16
  * refresh mistake, where a factor-52 decade started at a 300 s dial whose
  * 600 s build budget was under m_triangle_state's last-known ~757 s wall
  * at that factor, guaranteeing the build timeout and its cascade into the
  * four triangle-state consumer rows. The guard reads the PRIOR committed
  * ledger for the factor (both numbers it needs are already in it) and
  * refuses to start instead.
  */
class ScaleGuardSpec extends AnyFunSuite {

  /** Minimal ledger with the fields the guard parses, shaped exactly like
    * ScaleSuite's emitted JSON (the regexes anchor on the materialization
    * row's field order).
    */
  private def ledger(dial: Long, timeouts: Seq[String],
      buildWall: Double, buildStatus: String): String = {
    val tl = timeouts.map("\"" + _ + "\"").mkString(",")
    s"""{"metric":"scale_suite","factor":52,"timeout_sec":$dial,""" +
      s""""scaled_timeout":[$tl],""" +
      s""""materializations":{"m_triangle_state":{"base":24.4,""" +
      s""""scaled":$buildWall,"x":null,"base_status":"ok",""" +
      s""""scaled_status":"$buildStatus","base_shuffle":1,""" +
      s""""scaled_shuffle":2,"x_shuffle":null}},"queries":{}}"""
  }

  test("refuses a dial whose 2x build budget is under the prior ledger's " +
      "largest ok build wall") {
    val prior = ledger(600, Seq.empty, 757.2, "ok")
    val r = ScaleSuite.timeoutGuard(prior, 300)
    assert(r.isDefined && r.get.contains("build budget"), r)
    // 2*378 = 756 < 757.2 still refuses; 2*379 fits
    assert(ScaleSuite.timeoutGuard(prior, 378).isDefined)
    assert(ScaleSuite.timeoutGuard(prior, 379).isEmpty)
  }

  test("refuses re-running at a dial <= one that already produced scaled " +
      "timeouts (same dial, same outcome)") {
    // the r16 artifact's shape: dial 300, build timed out (not ok, so it
    // contributes no known wall), four consumer rows timed out
    val prior = ledger(300, Seq("q_triangles", "q_ktruss"), 600.45,
      "timeout")
    val at300 = ScaleSuite.timeoutGuard(prior, 300)
    assert(at300.isDefined && at300.get.contains("prior ledger recorded"),
      at300)
    assert(ScaleSuite.timeoutGuard(prior, 200).isDefined)
    // a RAISED dial is exactly the prescribed fix — must pass
    assert(ScaleSuite.timeoutGuard(prior, 600).isEmpty)
  }

  test("a clean prior ledger (no timeouts, builds fit) passes, and a " +
      "timed-out build's wall is not mistaken for a known wall") {
    assert(ScaleSuite.timeoutGuard(ledger(600, Seq.empty, 500.0, "ok"),
      600).isEmpty)
    // build status timeout: its 'scaled' is the watchdog cutoff, not a
    // measurement — only rule (b) may fire, and with no scaled_timeout
    // rows and a raised dial nothing does
    assert(ScaleSuite.timeoutGuard(ledger(300, Seq.empty, 600.45,
      "timeout"), 301).isEmpty)
  }

  test("ScaleGraph.priorScaled reads scaled walls + shuffle bytes from a " +
      "ledger, skipping query-timeout rows and non-ok build rows") {
    val l =
      """{"metric":"scale_suite","timeout_sec":300,""" +
      """"scaled_timeout":["q_triangles"],""" +
      """"materializations":{""" +
      """"m_ok":{"base":1.0,"scaled":103.2,"x":15.8,"base_status":"ok",""" +
      """"scaled_status":"ok","base_shuffle":7,"scaled_shuffle":88,""" +
      """"x_shuffle":1.1},""" +
      """"m_bad":{"base":24.4,"scaled":600.4,"x":null,""" +
      """"base_status":"ok","scaled_status":"timeout","base_shuffle":1,""" +
      """"scaled_shuffle":2,"x_shuffle":null}},""" +
      """"queries":{""" +
      """"q_ok":{"base":0.5,"scaled":9.8,"x":19.6,"base_pre":0.5,""" +
      """"base_timed":0.6,"scaled_pre":9.9,"scaled_timed":9.8,""" +
      """"base_shuffle":10,"scaled_shuffle":207,"x_shuffle":20.7},""" +
      """"q_triangles":{"base":1.0,"scaled":300.1,"x":null,""" +
      """"base_pre":1.0,"base_timed":1.0,"scaled_pre":null,""" +
      """"scaled_timed":null,"base_shuffle":3,"scaled_shuffle":0,""" +
      """"x_shuffle":null}}}"""
    val p = ScaleSuite.priorScaled(l)
    assert(p == Map("m_ok" -> ((103.2, 88L)), "q_ok" -> ((9.8, 207L))), p)
  }

  /** Ledger with one ok build row AND one query row (the emitted query-row
    * field order: base_pre follows x), for the rule-(c) and cross-factor
    * cases.
    */
  private def ledgerWithQuery(dial: Long, buildWall: Double,
      queryName: String, queryWall: Double,
      failed: Seq[String] = Seq.empty): String = {
    val fl = failed.map("\"" + _ + "\"").mkString(",")
    s"""{"metric":"scale_suite","factor":52,"timeout_sec":$dial,""" +
      s""""scaled_failed":[$fl],"scaled_timeout":[],""" +
      s""""materializations":{"m_triangle_state":{"base":24.4,""" +
      s""""scaled":$buildWall,"x":null,"base_status":"ok",""" +
      s""""scaled_status":"ok","base_shuffle":1,""" +
      s""""scaled_shuffle":26815002372,"x_shuffle":null}},""" +
      s""""queries":{"$queryName":{"base":2.2,"scaled":$queryWall,""" +
      s""""x":12.1,"base_pre":2.2,"base_timed":2.3,"scaled_pre":$queryWall,""" +
      s""""scaled_timed":$queryWall,"base_shuffle":9,""" +
      s""""scaled_shuffle":440000000,"x_shuffle":20.1}}}"""
  }

  test("rule (c): refuses a dial under the prior ledger's largest ok " +
      "QUERY wall even when every build fits the 2x budget") {
    // the ADVICE-r17 case: q_triangles 319 s ok at a 600 s dial; a 300 s
    // dial clears the build rule (2x300 >= 500) but must refuse on the
    // query rule (300 < 319); at 320 s it passes
    val prior = ledgerWithQuery(600, 500.0, "q_triangles", 319.3)
    val r = ScaleSuite.timeoutGuard(prior, 300)
    assert(r.isDefined && r.get.contains("query"), r)
    assert(ScaleSuite.timeoutGuard(prior, 319).isDefined)
    assert(ScaleSuite.timeoutGuard(prior, 320).isEmpty)
  }

  test("rule (c) with queryNames only binds on queries the caller will " +
      "run (the ADVICE-r18 case: a non-graph wall must not refuse a " +
      "graph decade), and the prior-timeout rule filters the same way") {
    // q_triangles 319 s is NOT in the caller's family → a 300 s dial
    // passes the query rule; with the row in the family it refuses
    val prior = ledgerWithQuery(600, 500.0, "q_triangles", 319.3)
    assert(ScaleSuite.timeoutGuard(prior, 300,
      queryNames = Some(Set("q_pagerank"))).isEmpty)
    assert(ScaleSuite.timeoutGuard(prior, 300,
      queryNames = Some(Set("q_triangles"))).isDefined)
    // a prior scaled TIMEOUT on an un-run query must not trip rule (b)
    val withTimeout = ledgerWithQuery(600, 80.0, "q_small", 10.0)
      .replace(""""scaled_timeout":[]""",
        """"scaled_timeout":["q_sim_neardup"]""")
    assert(ScaleSuite.timeoutGuard(withTimeout, 600,
      queryNames = Some(Set("q_small"))).isEmpty)
    assert(ScaleSuite.timeoutGuard(withTimeout, 600,
      queryNames = Some(Set("q_sim_neardup"))).isDefined)
  }

  test("rule (c) ignores query rows listed in scaled_failed (their wall " +
      "is time-to-crash, not a measurement)") {
    // q_big FAILED at 400 s — rule (c) must not treat 400 s as a known
    // wall; with the failed row excluded the largest ok wall is absent
    // and a 50 s dial passes (build 80 s fits 2x50)
    val prior = ledgerWithQuery(600, 80.0, "q_big", 400.0,
      failed = Seq("q_big"))
    assert(ScaleSuite.timeoutGuard(prior, 50).isEmpty)
  }

  test("cross-factor ratio scales the build and query bounds (fresh " +
      "decade guarded by the prior decade's ledger)") {
    // f52 -> f78 is ratio 1.5: build 871.2x1.5=1306.8 needs dial >= 654,
    // query 319.3x1.5=479.0 needs dial >= 479
    val prior = ledgerWithQuery(600, 871.2, "q_triangles", 319.3)
    val atLow = ScaleSuite.timeoutGuard(prior, 653, ratio = 1.5)
    assert(atLow.isDefined && atLow.get.contains("build budget"), atLow)
    assert(ScaleSuite.timeoutGuard(prior, 660, ratio = 1.5).isEmpty)
    assert(ScaleSuite.timeoutGuard(prior, 1100, ratio = 1.5).isEmpty)
    // with the build fitting (500x1.5=750 <= 2x478), the query rule is
    // the one that fires at 478 < 319.3x1.5=479.0
    val prior2 = ledgerWithQuery(600, 500.0, "q_triangles", 319.3)
    val q = ScaleSuite.timeoutGuard(prior2, 478, ratio = 1.5)
    assert(q.isDefined && q.get.contains("query"), q)
    assert(ScaleSuite.timeoutGuard(prior2, 480, ratio = 1.5).isEmpty)
  }

  test("diskGuard refuses a decade whose estimated peak scratch exceeds " +
      "free bytes, with the arithmetic printed") {
    val prior = ledgerWithQuery(600, 871.2, "q_triangles", 319.3)
    // the committed f104 burn: 26.8 GB x 2.0 = 53.6 GB shuffle + a
    // (53.6 - 15) GB spill wave = ~92 GB peak > 76 GB free -> refuse
    val free = 76L * 1000 * 1000 * 1000
    val exec = 15L * 1000 * 1000 * 1000
    val r = ScaleSuite.diskGuard(prior, 2.0, free, exec)
    assert(r.isDefined && r.get.contains("SPILL_OUT_OF_MEMORY") &&
      r.get.contains("GB free"), r)
    // f78 (ratio 1.5): 40.2 + 25.2 = ~65 GB peak < 76 GB free -> pass
    assert(ScaleSuite.diskGuard(prior, 1.5, free, exec).isEmpty)
    // plentiful scratch always passes
    assert(ScaleSuite.diskGuard(prior, 2.0, 10 * free, exec).isEmpty)
  }

  test("diskGuard with queryNames counts only the subset's rows and the " +
      "builds they read") {
    // m_triangle_state's 26.8 GB wedge shuffle refuses the full registry;
    // q_pagerank (0.44 GB) reads no build, so its subset passes, while a
    // subset with a triangle-state consumer is still judged on the build
    val prior = ledgerWithQuery(600, 871.2, "q_pagerank", 30.0)
    val free = 76L * 1000 * 1000 * 1000
    val exec = 15L * 1000 * 1000 * 1000
    assert(ScaleSuite.diskGuard(prior, 2.0, free, exec).isDefined)
    assert(ScaleSuite.diskGuard(prior, 2.0, free, exec,
      queryNames = Some(Set("q_pagerank"))).isEmpty)
    assert(ScaleSuite.diskGuard(prior, 2.0, free, exec,
      queryNames = Some(Set("q_pagerank", "q_ktruss"))).isDefined)
    // the subset's own row still counts: 0.44 GB x 200 = 88 GB shuffle
    assert(ScaleSuite.diskGuard(prior, 200.0, free, exec,
      queryNames = Some(Set("q_pagerank"))).isDefined)
  }

  test("the REAL committed f52 ledger authorizes the documented f78 dial " +
      "and refuses the documented f104 disk burn") {
    val f52 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_SFx52.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    // the queued fourth decade: factor 78, dial 1100 s, 24 g driver
    assert(ScaleSuite.timeoutGuard(f52, 1100, ratio = 78.0 / 52).isEmpty)
    val free = 76L * 1000 * 1000 * 1000
    val exec = 15L * 1000 * 1000 * 1000
    assert(ScaleSuite.diskGuard(f52, 78.0 / 52, free, exec).isEmpty)
    // the f104 attempt: dial was fine (1100 s), disk was not
    assert(ScaleSuite.diskGuard(f52, 104.0 / 52, free, exec).isDefined)
  }

  test("ScaleGraph.priorScaled also excludes names in scaled_failed " +
      "(query failures are recorded only in the ledger-level array)") {
    val l = ledgerWithQuery(600, 103.2, "q_crashed", 77.7,
      failed = Seq("q_crashed"))
    val p = ScaleSuite.priorScaled(l)
    assert(!p.contains("q_crashed"), p)
    assert(p.contains("m_triangle_state"), p)
  }

  test("priorLedgerFile picks the largest committed decade at or below " +
      "the factor, ignoring graph-family ledgers") {
    val dir = java.nio.file.Files.createTempDirectory("ledgers")
    def touch(n: String) = java.nio.file.Files.write(dir.resolve(n),
      "{}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    touch("BENCH_SF1.json") // factor 10
    touch("BENCH_SFx26.json")
    touch("BENCH_SFx52.json")
    touch("BENCH_SFx78_graph.json") // different row shape: excluded
    assert(ScaleSuite.priorLedgerFile(78, dir).map(_._1) === Some(52))
    assert(ScaleSuite.priorLedgerFile(52, dir).map(_._1) === Some(52))
    assert(ScaleSuite.priorLedgerFile(26, dir).map(_._1) === Some(26))
    assert(ScaleSuite.priorLedgerFile(11, dir).map(_._1) === Some(10))
    assert(ScaleSuite.priorLedgerFile(9, dir).isEmpty)
  }

  test("a subset run's output is never read back as a prior ledger") {
    val dir = java.nio.file.Files.createTempDirectory("ledgers")
    val out = java.nio.file.Paths.get(ScaleSuite.subsetOut).getFileName
    java.nio.file.Files.write(dir.resolve(out),
      "{}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Seq(1, 2, 10, 52, 104, 1000).foreach { f =>
      assert(ScaleSuite.priorLedgerFile(f, dir).isEmpty, f)
      assert(ScaleSuite.ledgerName(f) != ScaleSuite.subsetOut, f)
    }
  }

  test("ledgerName maps decade factors onto effective-SF names") {
    assert(ScaleSuite.ledgerName(10) == "BENCH_SF1.json")
    assert(ScaleSuite.ledgerName(52) == "BENCH_SFx52.json")
    assert(ScaleSuite.ledgerName(104) == "BENCH_SFx104.json")
  }

  test("the guard parses the actual emitted-ledger field order (committed " +
      "artifact shape)") {
    // regression pin against regex drift: the real f52 ledger in the repo
    // root (the first decade with a priced-materializations section) must
    // parse — a dial above both its own and the build-budget bound passes,
    // a dial of 1 s cannot fit any real build and refuses
    val f52 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_SFx52.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val maxOk = """"scaled":([0-9.]+),"x":[^,]*,"base_status":"[a-z]+","scaled_status":"ok"""".r
      .findAllMatchIn(f52).map(_.group(1).toDouble).foldLeft(0.0)(math.max)
    assert(maxOk > 0.0, "guard regex no longer matches the emitted ledger")
    assert(ScaleSuite.timeoutGuard(f52,
      math.ceil(maxOk / 2).toLong + 601).isEmpty)
    assert(ScaleSuite.timeoutGuard(f52, 1).isDefined)
  }
}
