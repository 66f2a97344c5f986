package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end pipeline run on a CDC-shaped landing CSV — the reference's
  * actual product (/root/reference/dags/etl_dag_updt.py:73: extractor >>
  * loader >> validator), on a temp warehouse.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private var root: Path = _

  override def beforeAll(): Unit = { root = Files.createTempDirectory("graft-pipe") }
  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  private def writeLanding(name: String, lines: Seq[String]): String = {
    val p = root.resolve(name)
    Files.write(p, lines.mkString("\n").getBytes)
    p.toString
  }

  private val header = "YearStart,YearEnd,Location Abbr,Topic,Data-Value,Report Date"
  private val goodRows = Seq(
    header,
    "2020,2021,CA,  Asthma ,12.5,2024-01-02",
    "2020,2021,CA,  Asthma ,12.5,2024-01-02", // exact dup -> dropped
    "2021,2020,NY,,150.0,not-a-date",         // year violation + null topic
    "2019,2022,TX,Diabetes,55.0,2024-02-03")

  test("full run: extract -> load -> validate, exit 0, observable outputs") {
    val landing = writeLanding("landing.csv", goodRows)
    val staging = root.resolve("staging").toString
    val analytics = root.resolve("analytics").toString
    val audit = root.resolve("audit").toString

    val report = Pipeline.run(spark, landing, staging, analytics, Some(audit),
      df => Seq(
        Checks.rowCountMin(1),
        Checks.distinctMin("yearstart", 2),
        Checks.nullCount("topic"),
        Checks.duplicateCount(df)),
      required = Set("yearstart", "topic", "loaded_at", "load_date"),
      rangeCol = Some(("data_value", 0.0, 100.0)))

    assert(report.stages.map(_.name) == Seq("extract", "load", "validate"))
    assert(report.exitCode == 0, report.stages.mkString("; "))

    // audit side-output: the 150.0 out-of-range row lands in the CSV
    val auditRows = spark.read.option("header", "true").csv(audit)
    assert(auditRows.count() == 1)
    assert(auditRows.head().getAs[String]("data_value") == "150.0")

    // staging: normalized column names, all rows (cleaning happens in load)
    val staged = spark.read.parquet(staging)
    assert(staged.columns.toSeq ==
      Seq("yearstart", "yearend", "location_abbr", "topic", "data_value",
        "report_date"))
    assert(staged.count() == 4)

    // analytics: deduped + cleaned + metadata, partitioned by load_date
    val out = spark.read.parquet(analytics)
    assert(out.count() == 3)
    assert(out.columns.contains("loaded_at") && out.columns.contains("load_date"))
    val topics = out.select("topic").collect().map(_.getString(0)).toSet
    assert(topics == Set("asthma", "unknown", "diabetes")) // fill->lower->trim
    assert(new java.io.File(analytics).listFiles()
      .exists(_.getName.startsWith("load_date=")))
  }

  test("one load stamps the audit rows and the analytics rows alike") {
    val landing = writeLanding("landing-stamp.csv", goodRows)
    val staging = root.resolve("stamp-staging").toString
    val analytics = root.resolve("stamp-analytics").toString
    val audit = root.resolve("stamp-audit").toString
    Pipeline.extract(spark, landing, staging)
    Pipeline.load(spark, staging, analytics, Some(audit),
      rangeCol = Some(("data_value", 0.0, 100.0)))
    // the CSV carries milliseconds, so compare at that precision
    val audited = spark.read.option("header", "true").csv(audit)
      .select(to_timestamp(col("loaded_at"))).collect().map(_.get(0)).toSet
    val loaded = spark.read.parquet(analytics)
      .select(date_trunc("millisecond", col("loaded_at")))
      .collect().map(_.get(0)).toSet
    assert(loaded.size == 1, s"one load, several stamps: $loaded")
    assert(audited == loaded)
  }

  test("load_date is to_date(loaded_at) in the session zone near midnight") {
    import java.time.Instant
    import spark.implicits._
    val analytics = root.resolve("stamp-zone").toString
    val zoneKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(zoneKey)
    spark.conf.set(zoneKey, "Asia/Tokyo") // UTC+9: the UTC day differs
    try {
      // 23:59:59.999 on Jan 1 and 00:00 on Jan 2 in Tokyo, both Jan 1 UTC
      for ((at, id) <- Seq("2024-01-01T14:59:59.999Z",
          "2024-01-01T15:00:00Z").zipWithIndex)
        Pipeline.appendCleaned(Seq(id.toLong).toDF("id"), analytics,
          Some(java.sql.Timestamp.from(Instant.parse(at))))
      val t = Pipeline.readTable(spark, analytics)
      assert(t.filter(col("load_date") =!= to_date(col("loaded_at")))
        .count() == 0)
      assert(t.select(col("id"), col("load_date").cast("string")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap ==
        Map(0L -> "2024-01-01", 1L -> "2024-01-02"))
    } finally spark.conf.set(zoneKey, prev)
  }

  test("chunk-staged extract equals the direct landing extract") {
    val landing = writeLanding("landing-chunks-src.csv", goodRows)
    val direct = root.resolve("staging-direct").toString
    assert(Pipeline.extract(spark, landing, direct).ok)

    // stage the same landing data as the reference's transient chunk tier,
    // then extract THROUGH the chunkcsv connector; contents must match
    // (all-string lattice on both paths: the landing read is re-read
    // schema-less through the chunk tier)
    val chunks = root.resolve("transient-chunks").toString
    Sinks.writeChunkedCsv(
      Sources.readCsvInferred(spark, landing).selectExpr(
        spark.read.option("header", "true").csv(landing)
          .columns.map(c => s"cast(`$c` as string) as `$c`").toIndexedSeq: _*),
      chunks, chunkRows = 2)
    val viaChunks = root.resolve("staging-chunked").toString
    val rep = Pipeline.extractChunked(spark, chunks, viaChunks)
    assert(rep.ok, rep.detail)

    val a = spark.read.parquet(direct)
      .selectExpr("cast(yearstart as string)", "topic", "data_value")
      .collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)
    val b = spark.read.parquet(viaChunks)
      .selectExpr("cast(yearstart as string)", "topic", "data_value")
      .collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)
    assert(b.map(_.map(Option(_).map(_.toString))) ==
      a.map(_.map(Option(_).map(_.toString))))
    // and the chunk tier really was chunked (ceil(4/2) files) + parallel
    assert(spark.read.format("chunkcsv").load(chunks)
      .rdd.getNumPartitions == 2)
  }

  test("extract evolution decision is reported across runs") {
    val landing = writeLanding("landing2.csv", goodRows)
    val staging = root.resolve("staging2").toString
    val first = Pipeline.extract(spark, landing, staging)
    assert(first.ok && first.detail.contains("CreateNew"))
    val second = Pipeline.extract(spark, landing, staging)
    assert(second.ok && second.detail.contains("Truncate"))
    val drifted = writeLanding("landing3.csv",
      Seq("YearStart,NewCol", "2020,x"))
    val third = Pipeline.extract(spark, drifted, staging)
    assert(third.ok && third.detail.contains("Recreate"))
  }

  test("empty landing dataset blocks the run (P7 guard)") {
    val landing = writeLanding("empty.csv", Seq(header))
    val report = Pipeline.run(spark, landing,
      root.resolve("s3").toString, root.resolve("a3").toString, None,
      _ => Seq(Checks.rowCountMin(1)))
    assert(report.exitCode == 1)
    assert(report.stages.map(_.name) == Seq("extract"))
  }

  test("incremental loads append partitions; readLatest reconstructs state") {
    import java.sql.Timestamp
    import spark.implicits._
    val staging = root.resolve("inc-staging").toString
    val analytics = root.resolve("inc-analytics").toString

    Seq((1L, "v1"), (2L, "v1")).toDF("id", "payload")
      .write.mode("overwrite").parquet(staging)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-01 00:00:00")))

    Seq((2L, "v2"), (3L, "v1")).toDF("id", "payload")
      .write.mode("overwrite").parquet(staging)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-02 00:00:00")))

    // history kept: both load_date partitions present, 4 rows total
    assert(spark.read.parquet(analytics).count() == 4)
    assert(new java.io.File(analytics).listFiles()
      .count(_.getName.startsWith("load_date=")) == 2)

    // current state: one row per id, newest load wins for id=2
    val latest = Pipeline.readLatest(spark, analytics, Seq("id"))
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(latest.toSeq == Seq((1L, "v1"), (2L, "v2"), (3L, "v1")))

    // compaction materializes the view: 3 physical rows, history gone,
    // readLatest unchanged
    val rep = Pipeline.compact(spark, analytics, Seq("id"))
    assert(rep.ok)
    assert(spark.read.parquet(analytics).count() == 3)
    val after = Pipeline.readLatest(spark, analytics, Seq("id"))
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(after.toSeq == latest.toSeq)
  }

  test("two appends on one day land in one load_date= directory, and " +
      "readLatest sees both") {
    import java.sql.Timestamp
    import spark.implicits._
    val analytics = root.resolve("same-day").toString
    Pipeline.appendCleaned(Seq((1L, "v1"), (2L, "v1")).toDF("id", "payload"),
      analytics, Some(Timestamp.valueOf("2024-01-01 08:00:00")))
    Pipeline.appendCleaned(Seq((2L, "v2"), (3L, "v1")).toDF("id", "payload"),
      analytics, Some(Timestamp.valueOf("2024-01-01 17:30:00.25")))
    val days = new java.io.File(analytics).listFiles()
      .filter(_.getName.startsWith("load_date=")).map(_.getName).toSeq
    assert(days == Seq("load_date=2024-01-01"), days)
    assert(Pipeline.readTable(spark, analytics).count() == 4)
    val latest = Pipeline.readLatest(spark, analytics, Seq("id"))
      .select("id", "payload").as[(Long, String)].collect().sortBy(_._1)
    assert(latest.toSeq == Seq((1L, "v1"), (2L, "v2"), (3L, "v1")))
  }

  test("a zero-row append followed by a non-empty one on the same day") {
    import java.sql.Timestamp
    import spark.implicits._
    val analytics = root.resolve("empty-then-rows").toString
    val batch = Seq((1L, "v1"), (2L, "v1")).toDF("id", "payload")
    assert(Pipeline.appendCleaned(batch.limit(0), analytics,
      Some(Timestamp.valueOf("2024-01-01 08:00:00"))) == 0L)
    assert(Pipeline.readTable(spark, analytics).count() == 0)
    assert(Pipeline.appendCleaned(batch, analytics,
      Some(Timestamp.valueOf("2024-01-01 09:00:00"))) == 2L)
    val t = Pipeline.readTable(spark, analytics)
    assert(t.columns.toSeq == Seq("id", "payload", "loaded_at", "load_date"))
    assert(t.select(col("id"), col("load_date").cast("string"))
      .as[(Long, String)].collect().toSet ==
      Set((1L, "2024-01-01"), (2L, "2024-01-01")))
    assert(Pipeline.readLatest(spark, analytics, Seq("id")).count() == 2)
  }

  test("the table root holds only load_date=* directories and the schema " +
      "sidecar; readers ignore _SUCCESS wherever it lands") {
    import java.sql.Timestamp
    import spark.implicits._
    val analytics = root.resolve("root-listing").toString
    for ((at, id) <- Seq("2024-01-01 08:00:00", "2024-01-02 08:00:00",
        "2024-01-02 09:00:00").zipWithIndex)
      Pipeline.appendCleaned(Seq((id.toLong, "v")).toDF("id", "payload"),
        analytics, Some(Timestamp.valueOf(at)))
    // dot files are the local file system's checksums, hidden like the
    // files they check
    val entries = new java.io.File(analytics).listFiles()
      .filterNot(_.getName.startsWith(".")).toSeq
    val (dirs, files) = entries.partition(_.isDirectory)
    assert(dirs.map(_.getName).sorted ==
      Seq("load_date=2024-01-01", "load_date=2024-01-02"), entries)
    assert(files.map(_.getName) == Seq("_graft_schema.json"), entries)
    // a plain inferring read sees only the rows, whatever _SUCCESS files
    // the commits left in the day directories
    val plain = spark.read.parquet(analytics)
    assert(plain.columns.toSeq == Seq("id", "payload", "loaded_at",
      "load_date"))
    assert(plain.count() == 3)
    assert(Pipeline.readTable(spark, analytics).count() == 3)
  }

  test("readLatestOr falls back to the schema frame on a data-less table") {
    import java.sql.Timestamp
    import spark.implicits._
    val staging = root.resolve("inc-empty-staging").toString
    val analytics = root.resolve("inc-empty-analytics").toString
    val batch = Seq((1L, "v1")).toDF("id", "payload").limit(0)
    batch.write.mode("overwrite").parquet(staging)
    // zero-row append leaves its day dir holding one empty parquet file
    // that carries the schema, and the sidecar journals the schema, so
    // readLatest succeeds empty (the seam a table format's schema journal
    // exists to close)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-01 00:00:00")))
    val viaSidecar = Pipeline.readLatest(spark, analytics, Seq("id"))
    assert(viaSidecar.count() == 0)
    assert(viaSidecar.columns.toSeq ==
      Seq("id", "payload", "loaded_at", "load_date"))
    // a table with NO sidecar (not a loadIncremental table) still throws
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.readLatest(spark, root.resolve("not-a-table").toString,
        Seq("id")).collect()
    }
    val empty = Cleaning.cleanAll(batch,
      Some(Timestamp.valueOf("2024-01-01 00:00:00")))
    val out = Pipeline.readLatestOr(spark, analytics, Seq("id"), empty)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("id", "payload", "loaded_at", "load_date"))
  }

  test("widened incremental append reads deterministically via the sidecar") {
    import java.sql.Timestamp
    import spark.implicits._
    val staging = root.resolve("inc-widen-staging").toString
    val analytics = root.resolve("inc-widen-analytics").toString
    Seq((1L, "v1")).toDF("id", "payload")
      .write.mode("overwrite").parquet(staging)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-01 00:00:00")))
    // day 2 widens the schema with a score column
    Seq((2L, "v2", 0.5)).toDF("id", "payload", "score")
      .write.mode("overwrite").parquet(staging)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-02 00:00:00")))
    // the journaled schema governs the read: the new column is ALWAYS
    // present (old rows surface NULL), never dependent on which footer
    // the reader samples first
    val t = Pipeline.readTable(spark, analytics)
    assert(t.columns.contains("score"))
    val rows = t.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(0.5)))
    // readLatest sees the same evolved shape
    assert(Pipeline.readLatest(spark, analytics, Seq("id"))
      .columns.contains("score"))
  }

  test("readTable recovers a data-less table from the schema sidecar") {
    import java.sql.Timestamp
    import spark.implicits._
    val staging = root.resolve("sidecar-staging").toString
    val analytics = root.resolve("sidecar-analytics").toString
    val batch = Seq((1L, "v1")).toDF("id", "payload")
    batch.limit(0).write.mode("overwrite").parquet(staging)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-01 00:00:00")))
    // no data files, but the sidecar carries the read-back schema
    val empty = Pipeline.readTable(spark, analytics)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq ==
      Seq("id", "payload", "loaded_at", "load_date"))
    assert(empty.schema("load_date").dataType ==
      org.apache.spark.sql.types.DateType)

    // once data lands, readTable is exactly the parquet read (sidecar file
    // is ignored by the scan), and column order matches the empty fallback
    batch.write.mode("overwrite").parquet(staging)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-02 00:00:00")))
    val populated = Pipeline.readTable(spark, analytics)
    assert(populated.count() == 1)
    assert(populated.columns.toSeq == empty.columns.toSeq)

    // a dir that was never loadIncremental-journaled still throws: absence
    // of the sidecar must not be masked by a guessed schema
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.readTable(spark, root.resolve("no-such-table").toString)
    }
  }

  test("compact carries the schema sidecar through the swap") {
    import java.sql.Timestamp
    import spark.implicits._
    val staging = root.resolve("cswap-staging").toString
    val analytics = root.resolve("cswap-analytics").toString
    Seq((1L, "v1"), (2L, "v1")).toDF("id", "payload")
      .write.mode("overwrite").parquet(staging)
    Pipeline.loadIncremental(spark, staging, analytics,
      Some(Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(Pipeline.compact(spark, analytics, Seq("id")).ok)
    assert(Pipeline.sidecarSchema(spark, analytics).isDefined)
    assert(Pipeline.readTable(spark, analytics).count() == 2)
  }

  test("applyChanges recovers a snapshot stranded mid-swap by a crash") {
    import spark.implicits._
    val snapDir = root.resolve("stranded-snap").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
      .write.mode("overwrite").parquet(snapDir)
    // Simulate a crash between the two swap renames: live dir moved aside
    // to .merge-old, replacement never landed.
    val live = new java.io.File(snapDir)
    val old = new java.io.File(snapDir + ".merge-old")
    assert(live.renameTo(old))
    assert(!live.exists() && old.exists())
    // Next merge must detect the stranded state, restore the original,
    // and then apply cleanly on top of it.
    val chg = Seq((2L, "U", 1L, "b2")).toDF("id", "op", "seq", "payload")
    val rep = Pipeline.applyChanges(spark, snapDir, chg, "id")
    assert(rep.ok, rep.detail)
    assert(!old.exists(), ".merge-old not cleaned up after recovery+merge")
    val out = spark.read.parquet(snapDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2")))
  }

  test("validate on a missing analytics table fails, blocking") {
    val r = Pipeline.validate(spark, root.resolve("nope").toString,
      _ => Seq(Checks.rowCountMin(1)))
    assert(!r.ok && r.detail.contains("does not exist"))
  }

  test("validate enforces the required-column contract") {
    import spark.implicits._
    val dir = root.resolve("contract").toString
    Seq((1L, "x")).toDF("yearstart", "topic").write.parquet(dir)
    val r = Pipeline.validate(spark, dir, _ => Seq(Checks.rowCountMin(1)),
      required = Set("yearstart", "topic", "loaded_at"))
    assert(!r.ok && r.detail.contains("loaded_at"))
  }

  test("writeDedupState materializes bands/pairs/clusters consistent with " +
      "the in-memory chain, and the state-read kept report == recompute") {
    import graft.ext.Dedup
    val fixture = "/root/testdata/sf0.001"
    val state = root.resolve("dedup-state").toString
    Pipeline.writeDedupState(spark, fixture, state)
    val docs = Sources.table(spark, fixture, "documents")
    val pairs = spark.read.parquet(s"$state/pairs")
    val clusters = spark.read.parquet(s"$state/clusters")
    val bands = spark.read.parquet(s"$state/bands")
    // bands: k/rowsPerBand rows per doc holding >=1 shingle
    assert(bands.groupBy("doc_id").count()
      .filter(col("count") =!= 4).count() == 0)
    // pairs table == the in-memory verified chain
    val mem = Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == mem)
    // clusters cover exactly the ids appearing in pairs, labels are min ids
    val memClu = Dedup.connectedComponents(
      Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
        .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == memClu)
  }

  test("updateDedupState: build-from-half then fold the rest == " +
      "writeDedupState from scratch, relation by relation") {
    val fixture = "/root/testdata/sf0.001"
    val docs = Sources.table(spark, fixture, "documents")
    // from-scratch reference over the whole corpus
    val full = root.resolve("dedup-full").toString
    Pipeline.writeDedupState(spark, fixture, full)
    // half-build (even ids, materialized as its own corpus dir) + update
    val incr = root.resolve("dedup-incr").toString
    val firstHalf = root.resolve("dedup-first").toString
    docs.filter(col("doc_id") % 2 === 0)
      .write.parquet(s"$firstHalf/documents.parquet")
    Pipeline.writeDedupState(spark, firstHalf, incr)
    Pipeline.updateDedupState(spark, fixture, incr,
      docs.filter(col("doc_id") % 2 =!= 0))
    def rel(dir: String, name: String, cols: Seq[String]) =
      spark.read.parquet(s"$dir/$name").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    for ((name, cols) <- Seq(
        ("bands", Seq("doc_id", "band_idx", "band_hash")),
        ("pairs", Seq("doc_a", "doc_b", "jaccard")),
        ("clusters", Seq("doc_id", "cluster_id"))))
      assert(rel(incr, name, cols) == rel(full, name, cols),
        s"incremental $name diverged from the from-scratch state")
    // non-vacuous: the update must actually contribute cross-half pairs
    val crossHalf = spark.read.parquet(s"$incr/pairs")
      .filter(col("doc_a") % 2 =!= col("doc_b") % 2).count()
    assert(crossHalf > 0, "fixture must produce cross-half near-dup pairs")
  }
}
