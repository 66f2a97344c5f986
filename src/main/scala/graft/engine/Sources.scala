package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers (SURVEY §2.1 S1-S4, S8).
  *
  * The reference's HTTP-fetch → chunked-CSV-staging → paged-JDBC-read chain
  * collapses to declarative scans: Spark lists/globs/parallelizes file reads
  * natively, and Catalyst pushes filters and column pruning into the parquet
  * reader (row-group + min/max pruning). The serial OFFSET/LIMIT pagination
  * (data_loader.py:412-421, O(n²) rescans) has no equivalent here —
  * partitioned parallel scans replace it with strictly better semantics.
  *
  * Scale note: every reader returns a lazy plan; nothing is materialized on
  * the driver. At 100 TB the same code runs with more input splits — no
  * driver-memory proportionality anywhere.
  */
object Sources {

  /** Schema-inferred CSV read with headers — the Spark restatement of the
    * reference's `pd.read_csv` landing parse (data_extractor.py:197).
    * For production-scale reads pass an explicit schema (inference scans the
    * data once); inference here mirrors the reference's dynamic-schema
    * semantics (SURVEY §1.3.1).
    */
  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** CSV read with a known schema — the scalable path (single pass). */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC read — same columnar pushdown/pruning properties as parquet (both
    * built-in); offered because warehouse migrations routinely land ORC.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-Lines source — the de-facto interchange format for document
    * corpora. Schema'd (single pass); pass `inferSchema=true` semantics by
    * omitting the schema only for exploration.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** Reference S8: partitioned parallel JDBC read — replaces the serial
    * `OFFSET/LIMIT` pagination loop (data_loader.py:412-421, O(n²) rescans
    * with nondeterministic page contents) with `numPartitions` concurrent
    * range scans on `partitionCol`. Strictly better semantics AND linear.
    */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: Long, upper: Long, numPartitions: Int,
      properties: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, partitionCol, lower, upper, numPartitions,
      properties)

  /** Fixture table loader: `table(spark, sfDir, "lineitem")`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else readFixture(spark, s"$sfDir/$name.parquet")._1

  /** What a parquet read's inferred schema depends on: every file under
    * the path as (name, length, mtime) from one driver-side listing, and
    * the session confs that change the parquet → Catalyst type mapping.
    */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]])

  private val typeMappingConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** None when the path cannot be listed; the read itself then reports
    * the error as it always has.
    */
  private def fingerprint(spark: SparkSession, path: String)
      : Option[Fingerprint] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(Fingerprint(files.result().sorted,
        typeMappingConfs.map(spark.conf.getOption)))
    } catch { case _: java.io.IOException => None }

  /** Schema memo, one entry per path: the fingerprint it was inferred
    * under and the schema. Inferring a parquet schema is a Spark job
    * (footer reads in `mergeSchemasInParallel`), paid on every read of a
    * fixture table; a read whose fingerprint matches passes the memoized
    * schema instead and runs no job. A rewrite of the files or a flipped
    * type-mapping conf changes the fingerprint, and the next read infers
    * again. Entries are immutable pairs, so concurrent readers at worst
    * infer twice.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Fingerprint, org.apache.spark.sql.types.StructType)]()

  /** `spark.read.parquet(path)` through [[schemaMemo]]; also returns the
    * fingerprint the read was made under.
    */
  private def readFixture(spark: SparkSession, path: String)
      : (DataFrame, Option[Fingerprint]) = {
    val fp = fingerprint(spark, path)
    val known = Option(schemaMemo.get(path))
      .collect { case (f, schema) if fp.contains(f) => schema }
    val df = known.fold(spark.read)(spark.read.schema).parquet(path)
    if (known.isEmpty) fp.foreach(f => schemaMemo.put(path, (f, df.schema)))
    (df, fp)
  }

  /** Fixture events files whose int64 ts already passed the
    * nanos-magnitude probe, with the fingerprint they passed it under —
    * the probe is one extra Spark action, so it must run once per file
    * set, not once per query invocation (it would otherwise land inside
    * every timed bench run of every event-time query). A rewrite of the
    * file (say as epoch-micros) changes the fingerprint, so the probe
    * runs again.
    */
  private val nanosProbed =
    new java.util.concurrent.ConcurrentHashMap[String, Fingerprint]()

  /** Type-adaptive events reader. The fixture's `ts` physical encoding has
    * shipped two ways across testdata generations — parquet TIMESTAMP(NANOS)
    * (arriving as LongType under `spark.sql.legacy.parquet.nanosAsLong=true`,
    * which Bench/Verify/TestSpark all set) and plain `timestamp[us]`
    * (arriving as TimestampType/TimestampNTZType). Branching on the OBSERVED
    * Spark-level type keeps every event-time query alive across fixture
    * regenerations instead of hard-coding one encoding.
    *
    * Nanos arrive as epoch-nanos longs and convert with INTEGRAL division —
    * epoch nanos (~1.7e18) exceed double's 2^53 mantissa, so a
    * floating-point divide would corrupt timestamps. Any third encoding
    * fails loudly with the observed type rather than passing through
    * untouched.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val path = s"$sfDir/events.parquet"
    val (raw, fp) = readFixture(spark, path)
    raw.schema("ts").dataType match {
      case LongType =>
        // TIMESTAMP(NANOS) read under nanosAsLong (or raw INT64 epoch-nanos).
        // Guard against a fixture regeneration shipping int64 epoch-MICROS or
        // -MILLIS instead: plausible dates in epoch-nanos are ~1e18, in micros
        // ~1e15, in millis ~1e12. A silent /1000 of the wrong unit would shift
        // timestamps by 10^3/10^6, so probe one non-null value (once per
        // file set) and fail loudly if its magnitude does not look like
        // nanos.
        if (fp.isEmpty || Option(nanosProbed.get(path)) != fp) {
          val probe = raw.select(col("ts")).filter(col("ts").isNotNull).head(1)
          probe.headOption.map(_.getLong(0)).foreach { v =>
            val abs = math.abs(v)
            if (abs != 0L && abs < 1e16.toLong) {
              val suspect =
                if (abs >= 1e14.toLong) "epoch-micros"
                else if (abs >= 1e11.toLong) "epoch-millis"
                else "epoch-seconds or unknown"
              throw new IllegalStateException(
                s"events.parquet ts is int64 but magnitude $v is too small " +
                  s"for epoch-nanos (suspected $suspect); refusing to " +
                  "divide by 1000")
            }
          }
          fp.foreach(nanosProbed.put(path, _))
        }
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _: TimestampNTZType =>
        // session timezone is UTC everywhere in this engine; NTZ == instant
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts column has unsupported type $other; expected " +
            "LongType (nanos-as-long), TimestampType, or TimestampNTZType")
    }
  }
}
