package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SourcesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("readCsvInferred infers types from data (reference S1 landing parse)") {
    val dir = Files.createTempDirectory("graft-src")
    val p = dir.resolve("landing.csv")
    Files.write(p, "YearStart,DataValue,Topic\n2020,12.5,asthma\n2021,9.1,copd\n".getBytes)
    val df = Sources.readCsvInferred(spark, p.toString)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("YearStart") == IntegerType)
    assert(types("DataValue") == DoubleType)
    assert(types("Topic") == StringType)
    assert(df.count() == 2)
  }

  test("readCsv with an explicit schema skips inference, keeps types") {
    val dir = Files.createTempDirectory("graft-src2")
    val p = dir.resolve("landing.csv")
    Files.write(p, "a,b\n1,x\nbad,y\n".getBytes)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val df = Sources.readCsv(spark, p.toString, schema)
    assert(df.schema == schema)
    val rows = df.collect()
    assert(rows(0).getLong(0) == 1L)
    assert(rows(1).isNullAt(0)) // unparseable under PERMISSIVE -> null
  }

  test("JSONL round trip: writeJsonl -> readJsonl preserves rows and types") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-jsonl").resolve("docs").toString
    val df = Seq((1L, "hello world", 0.5), (2L, "spark docs", 0.9))
      .toDF("doc_id", "text", "quality")
    Sinks.writeJsonl(df, dir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("quality", DoubleType)))
    val back = Sources.readJsonl(spark, dir, Some(schema))
    assert(back.count() == 2)
    assert(back.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "hello world", 0.5), Seq(2L, "spark docs", 0.9)))
    // inferred read agrees on content
    assert(Sources.readJsonl(spark, dir).count() == 2)
  }

  test("ORC round trip: overwriteOrc -> readOrc preserves rows and types") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-orc").resolve("t").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Sinks.overwriteOrc(df, dir)
    val back = Sources.readOrc(spark, dir)
    // ORC reads everything nullable; names and types must survive
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "a", 1.5), Seq(2L, "b", 2.5)))
  }

  test("events reader adapts to a nanos-as-long ts encoding") {
    import spark.implicits._
    // Synthesize the LongType shape the legacy TIMESTAMP(NANOS) fixture
    // presents under nanosAsLong=true: epoch-nanos int64. The reader must
    // integral-divide to micros (a float divide would corrupt ~1.7e18).
    val dir = Files.createTempDirectory("graft-evt-nanos").toString
    val nanos = 1700000000123456789L
    Seq((1L, nanos, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val df = Sources.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.selectExpr("unix_micros(ts)").head().getLong(0)
    assert(got == nanos / 1000L)
  }

  test("events reader passes a native timestamp ts encoding through") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evt-us").toString
    val micros = 1700000000123456L
    Seq((1L, new java.sql.Timestamp(0), 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.lit(micros)))
      .write.parquet(s"$dir/events.parquet")
    val df = Sources.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.selectExpr("unix_micros(ts)").head().getLong(0) == micros)
  }

  test("events reader rejects an unsupported ts type loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evt-bad").toString
    Seq((1L, "not-a-time")).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Sources.events(spark, dir))
    assert(e.getMessage.contains("StringType"))
  }

  test("events shared fixture reads as microsecond instants (any encoding)") {
    val df = Sources.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.selectExpr("max(ts)").head().getTimestamp(0) != null)
  }

  test("a rewritten table is read with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-memo").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Sources.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, 0.5)).toDF("id", "x").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val back = Sources.table(spark, dir, "t")
    assert(back.schema("x").dataType == DoubleType)
    assert(back.collect().map(_.toSeq).toSeq == Seq(Seq(2L, 0.5)))
  }

  /** One parquet file whose int64 `ts` is annotated TIMESTAMP(NANOS), the
    * encoding Spark cannot write itself.
    */
  private def writeNanosParquet(file: String, nanos: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withConf(new org.apache.hadoop.conf.Configuration).withType(schema)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", nanos))
    finally w.close()
  }

  test("flipping nanosAsLong re-infers a memoized schema") {
    val dir = Files.createTempDirectory("graft-memo-nanos").toString
    writeNanosParquet(s"$dir/n.parquet/part-0.parquet", 1700000000123456789L)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(Sources.table(spark, dir, "n").schema("ts").dataType == LongType)
    spark.conf.set(key, "false")
    try {
      val e = intercept[Exception](Sources.table(spark, dir, "n"))
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    } finally spark.conf.set(key, "true")
    assert(Sources.table(spark, dir, "n").schema("ts").dataType == LongType)
  }

  test("events probe runs again when the file is rewritten as micros") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evt-rewrite").toString
    def write(ts: Long) = Seq((1L, ts, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    write(1700000000123456789L) // epoch-nanos: passes the probe
    assert(Sources.events(spark, dir).count() == 1)
    write(1700000000123456L) // same directory, now epoch-micros
    val e = intercept[IllegalStateException](Sources.events(spark, dir))
    assert(e.getMessage.contains("epoch-micros"))
  }
}
