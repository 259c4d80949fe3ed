package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

/** The corpus schema memo in [[Tables]]: a warm table costs no Spark
  * job, and any change to the table's files (rewrite, append) or to
  * the inference confs re-infers instead of serving a stale schema. */
class TablesSpec extends SparkSpec {

  /** `f`'s result and the number of Spark jobs started while it ran,
    * with the listener bus drained at both ends so no job is missed or
    * billed to the wrong window. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      Bridge.drainListenerBus(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tables").toString

  test("a warm Tables.t on an unchanged table runs no Spark job") {
    val dir = tmpDir()
    spark.range(0, 20).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    val (_, cold) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(cold >= 1, "the first read must infer the schema")
    val (warm, jobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(jobs == 0, s"warm Tables.t ran $jobs job(s)")
    assert(warm.schema.map(_.name) == Seq("id"))
    assert(warm.count() == 20)
    // The shared fixtures warm the same way.
    Tables.lineitem(spark, sfDir)
    assert(jobsDuring(Tables.lineitem(spark, sfDir))._2 == 0)
  }

  test("rewriting a table in place with a new schema serves the new schema and rows") {
    val dir = tmpDir()
    spark.range(0, 5).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark, dir, "t").schema.map(_.name) == Seq("id"))
    spark.range(0, 3).select(col("id"), concat(lit("r"), col("id")).as("tag"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (df, jobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(jobs >= 1, "a moved stamp must re-infer")
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "tag" -> StringType))
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((0L, "r0"), (1L, "r1"), (2L, "r2")))
  }

  test("appending a part file to a directory table: the next read sees the new rows") {
    val dir = tmpDir()
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark, dir, "t").count() == 10)
    spark.range(10, 14).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val (df, jobs) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(jobs >= 1, "a new part file must re-infer")
    assert(df.count() == 14)
    assert(df.agg(max("id")).head().getLong(0) == 13L)
  }

  /** One-row `events.parquet` whose `ts` is INT64 TIMESTAMP(NANOS), the
    * shape Spark cannot write itself — written with parquet's example
    * writer. */
  private def writeNanosEvents(dir: String, eventId: Long, tsNs: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", eventId).append("ts", tsNs))
    finally w.close()
  }

  test("Tables.events yields ts_ns BIGINT and ts TIMESTAMP for both ts shapes") {
    val tsNs = 1700000000123456789L
    val nanosDir = tmpDir()
    writeNanosEvents(nanosDir, 1L, tsNs)
    val microsDir = tmpDir()
    spark.sql("SELECT 1L AS event_id, " +
        "timestamp_ntz'2023-11-14 22:13:20.123456' AS ts")
      .coalesce(1).write.parquet(s"$microsDir/events.parquet")
    for ((dir, expectNs) <- Seq(nanosDir -> tsNs,
                                microsDir -> (tsNs / 1000L) * 1000L)) {
      // Twice: the cold read fills the memo, the warm one must agree.
      for (_ <- 1 to 2) {
        val ev = Tables.events(spark, dir)
        assert(ev.schema("ts_ns").dataType == LongType, dir)
        assert(ev.schema("ts").dataType == TimestampType, dir)
        val r = ev.select(col("ts_ns"), unix_micros(col("ts"))).head()
        assert(r.getLong(0) == expectNs, dir)
        assert(r.getLong(1) == tsNs / 1000L, dir)
      }
    }
  }

  test("an inference conf is part of the key: flipping nanosAsLong re-infers") {
    val dir = tmpDir()
    writeNanosEvents(dir, 1L, 1700000000123456789L)
    Tables.events(spark, dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try {
      // Spark rejects TIMESTAMP(NANOS) unless nanos read as longs, so a
      // re-inference fails; a memo that ignored the conf would instead
      // serve the BIGINT schema inferred under the other setting.
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Tables.t(spark, dir, "events"))
      assert(e.getMessage.contains("NANOS"), e.getMessage)
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(Tables.events(spark, dir).schema("ts_ns").dataType == LongType)
  }
}
