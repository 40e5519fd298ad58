package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table loaders for the driver testdata star schema
  * (see /root/repo/TESTDATA.md, FIXTURES.md).
  *
  * Mirrors the reference's only source: full-table scans via
  * `pandas.read_sql_table` (/root/reference/dmCustomerProc.py:18-22 et al.).
  * Unlike the reference — which always fetches every row and column into
  * driver RAM — these return *lazy* scans: Catalyst pushes projections and
  * predicates into the parquet reader, so downstream `select`/`where`
  * become column pruning + row-group skipping at the source. At 100 TB the
  * same code reads only the touched columns/row groups.
  *
  * Every loader reads through `Sources.readParquetTable`, which infers a
  * table's schema once (one Spark job) and serves later loads from it
  * with no job. The remembered schema is keyed by the qualified path, the
  * (name, length, modification time) of the files under it, and the
  * session's parquet inference settings; a load infers again when the
  * table was rewritten or one of those settings changed.
  * Each load is still a fresh relation with new expression ids.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.Sources.readParquetTable(spark, sfDir, name)

  /** Normalize an event-time column to the engine's internal convention:
    * Long NANOSECONDS since epoch. The driver fixture has shipped `ts`
    * as both TIMESTAMP(NANOS) parquet (read as Long via the dormant
    * `nanosAsLong` compat flag — passthrough here) and plain
    * `timestamp[us]` (read as TIMESTAMP_NTZ — converted here), so this
    * guard makes every downstream ns-denominated constant work against
    * either vintage. The NTZ branch uses `timestampdiff` against the NTZ
    * epoch literal — exact integer micros → ×1000, no double rounding.
    * The analyzer implicit-casts both NTZ sides to TimestampType in the
    * SESSION zone, so callers must pin `spark.sql.session.timeZone=UTC`
    * (every graft entry point — Verify/Bench/Explain/Probe/SparkSpec —
    * does): under UTC the casts are the identity on the internal micros;
    * under a DST zone summer wall-clocks would shift by the offset
    * delta. plans.TsNanosPushdown folds predicates on the normalized
    * column back onto the raw one so parquet row-group pruning survives
    * the projection.
    */
  def tsToNanos(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case LongType => df // nanos fixtures read via nanosAsLong: already ns
      case TimestampNTZType =>
        // The analyzer casts both NTZ sides to TimestampType in the
        // SESSION zone; only under UTC is that the identity on the
        // internal micros (a DST zone shifts summer wall-clocks and is
        // non-monotonic across spring-forward). Fail loudly instead of
        // silently producing zone-shifted event times.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        val isUtc =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case _: Throwable => false }
        if (!isUtc) throw new IllegalStateException(
          s"[graft] tsToNanos($colName) on a TIMESTAMP_NTZ column requires " +
            s"spark.sql.session.timeZone=UTC (got '$tz') - set it in the " +
            "SparkSession builder as every graft entry point does")
        df.withColumn(colName,
          expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', $colName)") * lit(1000L))
      case TimestampType => df.withColumn(colName,
        unix_micros(col(colName)) * lit(1000L))
      case other => throw new IllegalArgumentException(
        s"[graft] fixture drift: column '$colName' has unsupported type $other " +
          "(expected BIGINT nanos, TIMESTAMP_NTZ, or TIMESTAMP) - see FixtureCanary")
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = tsToNanos(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
