package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's cleaning layer (SURVEY §2.8 F1-F7, §2.4 A4), re-expressed
  * as one lazy Catalyst projection instead of per-page pandas mutation.
  *
  * Order matters and is pinned to the reference's `main()` sequencing
  * (/root/reference/data_loader.py:404 → :422 → :426):
  *
  *   1. dedupExact            (SQL DELETE-dupes, data_loader.py:304-311)
  *   2. trimAll               (PL/pgSQL TRIM loop, data_loader.py:312-320)
  *   3. coerceDateCols        (to_datetime(errors='coerce'), :326-328)
  *   4. fillNumeric(0)        (fillna(0) on numeric, :329-330)
  *   5. normalizeStrings      (fillna('Unknown').str.lower().str.strip(), :331-332)
  *   6. withLoadMetadata      (loaded_at / load_date stamps, :426-427)
  *
  * ⚠ Step 5 fills BEFORE lowering, so filled nulls surface as lowercase
  * `"unknown"` — replicated exactly for oracle hash parity (SURVEY F2 note).
  *
  * Scale note: steps 2-5 fuse into a single whole-stage-codegen'd projection
  * (no shuffles); step 1 is one hash-aggregate shuffle on the full row —
  * exactly the minimum work the semantics require. Nothing touches the
  * driver.
  */
object Cleaning {

  private def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType == StringType => f.name }.toSeq

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq

  /** A4: keep one row per distinct full tuple (survivor identity immaterial,
    * matching the reference's arbitrary-ctid survivor).
    */
  def dedupExact(df: DataFrame): DataFrame = df.dropDuplicates()

  /** F1: TRIM every string column, schema-driven like the reference's
    * information_schema loop.
    */
  def trimAll(df: DataFrame): DataFrame = {
    val strs = stringCols(df).toSet
    df.select(df.schema.fields.map { f =>
      if (strs(f.name)) trim(col(f.name)).as(f.name) else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** F4: any column whose NAME contains "date" (case-insensitive) and is a
    * string gets coercing timestamp parsing — unparseable → NULL, not error.
    */
  def coerceDateCols(df: DataFrame): DataFrame = {
    val targets = df.schema.fields.collect {
      case f if f.name.toLowerCase.contains("date") && f.dataType == StringType =>
        f.name
    }.toSet
    if (targets.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      if (targets(f.name)) try_to_timestamp(col(f.name)).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** F3: numeric nulls → 0 (runs BEFORE validation in the reference, so
    * null-counts on numeric criticals are ~always 0 post-clean).
    */
  def fillNumeric(df: DataFrame, value: Double = 0.0): DataFrame =
    df.na.fill(value, numericCols(df))

  /** F2: string nulls → "Unknown", then lower, then trim (exact order). */
  def normalizeStrings(df: DataFrame, fill: String = "Unknown"): DataFrame = {
    val strs = stringCols(df).toSet
    df.select(df.schema.fields.map { f =>
      if (strs(f.name)) trim(lower(coalesce(col(f.name), lit(fill)))).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  /** The F2 expression on one column, exposed for query surfaces. */
  def cleanedString(c: Column, fill: String = "Unknown"): Column =
    trim(lower(coalesce(c, lit(fill))))

  /** P3/F5: stamp load metadata. Wall-clock by default; injectable for
    * deterministic tests/oracles (SURVEY §7.4 timestamp note).
    *
    * The instant is taken ONCE, on the driver, when the frame is built:
    * every query over the result (the analytics write, the audit
    * side-output) sees the same `loaded_at`, where `current_timestamp()`
    * would give each query its own. Both columns are literals, inlined
    * into generated code: a load on a new instant compiles its projections
    * again. `load_date` must stay a foldable date literal, because a
    * partitioned write on a constant column needs no sort.
    */
  def withLoadMetadata(df: DataFrame, at: Option[java.sql.Timestamp] = None)
      : DataFrame = {
    val ts = at.getOrElse(java.sql.Timestamp.from(java.time.Instant.now()))
    df.withColumn("loaded_at", lit(ts))
      .withColumn("load_date", lit(loadDay(df.sparkSession, ts)))
  }

  /** The `load_date` of a load stamped `at`: `to_date(loaded_at)` in the
    * session time zone, computed on the driver.
    */
  def loadDay(spark: SparkSession, at: java.sql.Timestamp)
      : java.time.LocalDate = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val zone =
      DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    java.time.LocalDate.ofEpochDay(DateTimeUtils.microsToDays(
      DateTimeUtils.fromJavaTimestamp(at), zone))
  }

  /** Key-based dedup-keep-latest: one surviving row per key, newest
    * `orderCol` wins (ties broken by `tieBreak` descending). The dedup an
    * incremental pipeline needs the moment loads stop being
    * truncate-and-reload — partitioned by a data-scaled key, never global.
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], orderCol: String,
      tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full reference-ordered cleaning pass. */
  def cleanAll(df: DataFrame, at: Option[java.sql.Timestamp] = None): DataFrame =
    withLoadMetadata(
      normalizeStrings(fillNumeric(coerceDateCols(trimAll(dedupExact(df))))),
      at)
}
