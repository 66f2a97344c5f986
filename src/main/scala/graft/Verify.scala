package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(Bench.envCpus(default = "4"))
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same suite hygiene as Bench.resetState: drop checkpoint blocks and
      // let the ContextCleaner reclaim broadcast/shuffle debris — without
      // it the 169-query dump accumulates every query's leftovers (the
      // r11-measured multi-x in-suite slowdown).
      Bench.resetState(spark)
    }
    writeOracleJson(outDir)
    writeDiagnostics(spark, sfDir, errors.toMap)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} of ${SparkEntry.queries.size} queries " +
          s"FAILED to execute: ${errors.keys.mkString(", ")}")
    spark.stop()
  }

  /** Gate forensics, dumped to target/verify-diag — NOT outDir, which the
    * driver sweeps for oracle results. Never fails the dump. Three parts:
    *
    *   1. connector chunk digests + per-chunk evidence (r10);
    *   2. a fixture-drift tripwire (r11, VERDICT item 4): one line per
    *      testdata table — schema fingerprint (name:type as Spark presents
    *      it under this session's confs) + file mtime + byte size. The r10
    *      events breakage (driver regenerated events.parquet with a
    *      different physical timestamp encoding) took forensic archaeology
    *      to date; with this dump it is one diff between rounds;
    *   3. errors.json (r11, gate-integrity): every registered query that
    *      failed to execute, with its error — the driver's correctness
    *      artifact omits rows for queries that produce no parquet, so
    *      without this record 23 failures once looked like a 138-row board.
    */
  def writeDiagnostics(spark: SparkSession, sfDir: String,
      errors: Map[String, String] = Map.empty): Unit = {
    try queries.Connector.writeDiagnostics(spark, sfDir, "target/verify-diag")
    catch { case e: Throwable =>
      System.err.println(s"[verify] diagnostics failed: ${e.getMessage}")
    }
    try {
      val diag = Paths.get("target/verify-diag")
      Files.createDirectories(diag)
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      val lines = tables.map { t =>
        val p = Paths.get(s"$sfDir/$t.parquet")
        val (mtime, size) =
          if (Files.exists(p)) (Files.getLastModifiedTime(p).toString,
            Files.size(p).toString)
          else ("MISSING", "0")
        // raw read, no adapter: record the type as PRESENTED to Spark
        val fp = try spark.read.parquet(p.toString).schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        catch { case e: Throwable => s"UNREADABLE(${e.getClass.getName})" }
        s"$t\tmtime=$mtime\tbytes=$size\tschema=$fp"
      }
      Files.writeString(diag.resolve("fixtures.txt"),
        lines.mkString("", "\n", "\n"))
      Files.writeString(diag.resolve("errors.json"),
        errors.map { case (k, v) => s"${jsonQ(k)}: ${jsonQ(v)}" }
          .mkString("{", ",", "}"))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] fixture tripwire failed: ${e.getMessage}")
    }
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def jsonQ(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump SparkEntry.oracleSql as JSON (shared with [[VerifyOne]]). */
  def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonQ(k)}: ${jsonQ(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
