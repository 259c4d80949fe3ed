package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Typed loaders for the driver-generated test tables (TESTDATA.md,
  * FIXTURES.md §B). Every query in the inventory reads through these so
  * parquet column pruning + predicate pushdown apply uniformly: the scan
  * only materializes the columns the query actually selects (verify via
  * `df.explain("formatted")` → `ReadSchema`/`PushedFilters`).
  *
  * Scale note: at 100 TB these would be partitioned/bucketed external
  * tables; `spark.read.parquet(dir)` on a directory of files behaves
  * identically, so nothing here assumes a single file.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** Session confs that change what parquet schema inference returns
    * for the same bytes — part of the memo key, so flipping one (as
    * [[events]] does with nanosAsLong) re-infers. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** path → (stamp, schema): one entry per table, replaced whenever
    * the stamp moves. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String,
    ((Map[String, (Long, Long)], Seq[String]), StructType)]()

  /** The parquet schema of `$dir/$name.parquet`, memoized on its data
    * files' stamp (name, length and mtime of every non-hidden file,
    * [[graft.sources.Warehouse.corpusFiles]]) plus the inference
    * confs. A bare `spark.read.parquet` runs one Spark job per call to
    * infer the schema; a warm entry costs one directory listing. Reuse
    * is sound only while the files are unchanged, so an append or an
    * in-place rewrite (new name, length or mtime) always re-infers. The
    * stamp is taken BEFORE the inference: a write racing the inference
    * leaves an entry whose stamp is already stale, so the next call
    * misses rather than serving it. Corpus tables are one file or a
    * flat directory of part files, which is what the stamp lists. */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    val stamp = (graft.sources.Warehouse.corpusFiles(spark, dir, name),
      InferenceConfs.map(k => spark.conf.get(k)))
    val hit = schemas.get(path)
    if (hit != null && hit._1 == stamp) hit._2
    else {
      val inferred = spark.read.parquet(path).schema
      schemas.put(path, (stamp, inferred))
      inferred
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")

  /** `events.parquet` has shipped `ts` two ways across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 rejects unless
    * nanos are read as plain longs) and plain TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). Either way every query sees the same two columns:
    *  - `ts_ns BIGINT` — exact epoch nanoseconds, for ordering / range
    *    arithmetic (integer math never loses precision; a double
    *    roundtrip would lose precision above 2^53 ns).
    *  - `ts TIMESTAMP` — micros, session tz is UTC everywhere, for
    *    calendar functions.
    * DuckDB oracle parity: `epoch_ns(ts)` ↔ `ts_ns`, `CAST(ts AS
    * TIMESTAMP)` ↔ `ts` (naive DuckDB timestamps == UTC wall clock).
    * The shape test reads the memoized schema, so it runs no job.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact-decimal sum of a double column, surfaced back as double.
    *
    * Double summation order is nondeterministic under parallel partial
    * aggregation, so a raw `sum(double)` can differ between Spark and the
    * DuckDB oracle in the last ulps. Casting each addend to DECIMAL(18,4)
    * makes the aggregation exact and order-independent (the source data
    * carries ≤2 decimal places; products of two such values carry ≤4), so
    * both engines produce bit-identical doubles after the final cast.
    * This is also the right call at 100 TB: decimal partial aggregation
    * stays in Tungsten codegen and adds no shuffle.
    */
  def decSum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Double → BIGINT the portable way. Spark's CAST truncates toward zero
    * while DuckDB's CAST rounds half away, so every conversion in an
    * oracle-checked query goes through an explicit floor() on both sides.
    */
  def floorLong(c: Column): Column = floor(c).cast("bigint")

  /** md5-fold: first 15 hex chars of md5 as a nonnegative BIGINT
    * (60 bits) — THE cross-engine deterministic hash (xxhash64 etc.
    * don't exist in DuckDB). Single source for the Spark-side SQL so
    * the many call sites (splits, mixing, sampling, fingerprints)
    * cannot drift character-by-character from their DuckDB twins
    * (`('0x' || substr(md5(x), 1, 15))::BIGINT`). `sqlExpr` is a SQL
    * fragment producing a STRING (cast/concat salts yourself — the
    * salt spelling must match the oracle's). */
  def md5FoldSql(sqlExpr: String): String =
    s"cast(conv(substr(md5($sqlExpr), 1, 15), 16, 10) as bigint)"

  /** md5-fold reduced mod `mod` — hash-bucket assignment (splits,
    * sampling rates). DuckDB twin: `(fold) % mod` (the fold is
    * nonnegative, so pmod and % agree). */
  def md5FoldBucketSql(sqlExpr: String, mod: Int): String =
    s"pmod(${md5FoldSql(sqlExpr)}, ${mod}L)"
}
