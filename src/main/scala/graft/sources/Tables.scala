package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TESTDATA star schema
  * (`/root/testdata/sf*`, see TESTDATA.md). Schemas come from the parquet
  * footers — never hand-maintained (FIXTURES.md §4).
  *
  * Scale stance: a plain `spark.read.parquet(dir)` keeps partition planning
  * with `FileSourceScanExec` (`maxPartitionBytes`/`openCostInBytes` pack
  * splits), so the same call works on one file locally or 100 TB of files on
  * a cluster. Filters/projections applied by callers are pushed into the
  * scan by Catalyst — loaders must NOT cache or materialize.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Streaming file scan of one table: a file stream source needs its
    * schema up front (taken from the batch footer, as [[load]] infers
    * it) and watches a directory, so the table is selected by glob. */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.readStream.schema(load(spark, sfDir, name).schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(sfDir)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Rebuild a (µs) timestamp from an INT64 nanosecond column. MUST be
    * integer division: `/` on longs is double division in Spark, and a
    * ns epoch (~1.7e18) exceeds 2^53 — the rounded quotient comes out
    * 1 µs low for ~13% of rows, silently shifting ms-boundary
    * comparisons vs the oracle. `div` truncates toward zero, which
    * matches floor for these post-1970 values. */
  private[graft] def nanosToTimestamp(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Normalize whatever physical encoding the events `ts` column arrived
    * in to the session TimestampType every downstream consumer expects.
    * The testdata generator has shipped two encodings across rounds —
    * INT64 TIMESTAMP(NANOS) (surfaced as LongType under `nanosAsLong`)
    * and INT64 TIMESTAMP_MICROS with isAdjustedToUTC=0 (surfaced as
    * TimestampNTZType) — so the loader sniffs the inferred schema
    * instead of hard-assuming one form. Under the project-wide UTC
    * session timezone the NTZ→LTZ cast is value-preserving, so all
    * encodings hash identically against the DuckDB oracle
    * (EventsEncodingSpec pins every branch). */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // The NTZ→LTZ cast below is value-preserving ONLY under a UTC session
    // timezone. Every entry point (Verify/Bench/tests/CLI) sets it, but
    // the invariant is enforced HERE, where it is relied upon — a future
    // entry point without the config must fail loudly, not silently
    // shift every event timestamp by the local offset.
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
    require(tz == "UTC",
      s"events loading requires spark.sql.session.timeZone=UTC (got '$tz'): " +
        "the TIMESTAMP_NTZ footer encoding is reinterpreted as session-local time")
    df.schema("ts").dataType match {
      case LongType          => nanosToTimestamp(df)          // NANOS-as-long
      case TimestampType     => df                            // already µs LTZ
      case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other (expected INT64 NANOS, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }

  /** events.parquet may store `ts` as INT64 TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects. `nanosAsLong` is a session-global legacy
    * flag (no per-read option exists), so it is set ONLY for the scope of
    * the schema-inference call and restored after: the flag is consulted
    * exactly when `DataFrameReader.parquet` converts the footer schema
    * (measured — actions on the returned frame, including materializing
    * the ts column, run fine after restore), so the scoped form keeps the
    * frame valid without leaking a session-global behavior change to
    * every later NANOS read on the session (TablesSpec pins both). For
    * non-NANOS footers the flag is a no-op and `normalizeEventsTs`
    * handles the encoding it finds. */
  private def scopedEvents(s: SparkSession)(read: => DataFrame): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try normalizeEventsTs(read)
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  def events(s: SparkSession, d: String): DataFrame = scopedEvents(s)(load(s, d, "events"))

  /** [[events]] as a stream: the flag is consulted by the batch footer
    * read that gives [[stream]] its schema, so the same scope covers it
    * and the stream stays valid after the restore (StreamingSpec pins
    * both, mirroring TablesSpec); NANOS-as-long, TIMESTAMP and
    * TIMESTAMP_NTZ testdata all stream identically. */
  def eventsStream(s: SparkSession, d: String): DataFrame =
    scopedEvents(s)(stream(s, d, "events"))

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
