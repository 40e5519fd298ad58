package graft.sources

import java.util.Properties
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources and sinks mirroring the reference's IO surface.
  *
  * The reference reads 19 Postgres tables via `pandas.read_sql_table`
  * (dm:18-22 et al.) — an unconditional `SELECT *` that materializes every
  * row and column into driver RAM, with no predicate or projection ever
  * reaching the database — and writes via `to_sql(if_exists=
  * replace/append)` (dm:47-48,164).
  *
  * The Spark shape keeps the same API intent but inverts the physics:
  *  - scans are lazy; Catalyst pushes filters and column pruning into the
  *    JDBC query (or parquet row groups) automatically;
  *  - reads can be partitioned across executors (`partitionColumn`),
  *    instead of one driver-side fetchall;
  *  - writes stream batched inserts from executors, not the driver.
  *
  * Dialect coverage. The reference's actual boundary is Postgres
  * (psycopg2, dm:10); no Postgres server exists in this sandbox, so the
  * JDBC shape is exercised against TWO embedded dialects in
  * SourcesStateSpec — Derby (JavaDB) and DuckDB (whose SQL surface is
  * deliberately Postgres-flavored). Spark routes both through
  * JdbcDialects; the deltas that matter when pointing `url` at real
  * Postgres:
  *  - Spark ships a first-class PostgresDialect (keyed off the
  *    `jdbc:postgresql:` URL), so type mapping is tighter than the
  *    NOOP dialect Derby/DuckDB get: StringType -> Postgres TEXT,
  *    BooleanType -> BOOLEAN (Derby maps CHAR(1)), BYTEA for binary,
  *    and array types map natively.
  *  - Schema-qualified `to_sql` replace: pandas drops/recreates inside
  *    the schema; Spark's Overwrite likewise issues DROP TABLE then
  *    CREATE TABLE on the qualified name. Postgres accepts
  *    `schema.table` exactly as Derby/DuckDB do here, but CASE differs:
  *    Postgres folds unquoted identifiers to LOWER case, Derby folds to
  *    UPPER (hence the "APP" schema in the Derby test); pass lower-case
  *    names for Postgres.
  *  - `if_exists=append` on a missing table: pandas creates it; Spark
  *    Append also creates it when absent — same on all three.
  *  - Truncate-vs-drop: with `.option("truncate", true)` Spark's
  *    PostgresDialect swaps DROP+CREATE for TRUNCATE (keeps grants/
  *    indexes); Derby's dialect has no such fast path.
  */
object Sources {

  /** `read_sql_table` analog: full-table JDBC scan, schema reflected from
    * database metadata. With `partition` set, the scan is split into
    * `numPartitions` range predicates executed in parallel — the knob that
    * makes a 100 TB ingest feasible at all.
    */
  def readJdbcTable(spark: SparkSession, url: String, schema: String,
      table: String, user: String, password: String,
      partition: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val props = new Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    props.setProperty("fetchsize", "10000")
    val qualified = s"$schema.$table"
    partition match {
      case Some((column, lower, upper, n)) =>
        spark.read.jdbc(url, qualified, column, lower, upper, n, props)
      case None =>
        spark.read.jdbc(url, qualified, props)
    }
  }

  /** INCREMENTAL JDBC pull since a watermark — the daily-delta read the
    * reference's full-table `read_sql_table` scans
    * (dmCustomerProc.py:18-22) grow into at warehouse scale: instead of
    * re-materializing the staging table every run, pull only rows whose
    * monotone watermark column (an update timestamp or sequence id)
    * advanced past the last processed mark, and feed the delta to the
    * SCD2 upsert (Scd2.keyedUpsert / Scd2Stream) — the standard
    * watermark-CDC ETL loop.
    *
    * The predicate is applied via a pushdown subquery in the `dbtable`
    * option, so the DATABASE serves only the delta — with an index on
    * the watermark column the pull is O(delta), and the wire carries
    * delta rows, never the table. The bound is EXCLUSIVE (rows AT the
    * stored mark were processed last run); callers persist
    * `max(watermark)` of each pull as the next mark. Rows whose
    * watermark is NULL never match a > bound — quarantine them
    * upstream or coalesce to a sentinel; silently dropping them is the
    * classic incremental-load bug, so it is named here.
    *
    * `lowerExclusive` is rendered as a SQL literal by the caller (a
    * quoted timestamp or a bare number) — the two forms the watermark
    * pattern uses.
    */
  def readJdbcIncrement(spark: SparkSession, url: String, schema: String,
      table: String, user: String, password: String,
      watermarkCol: String, lowerExclusive: String,
      partition: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val props = new Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    props.setProperty("fetchsize", "10000")
    // quote via the url's dialect: Spark's JDBC writer quotes identifiers,
    // so a case-folding database (Derby/Postgres fold unquoted names UP/
    // down) would otherwise not resolve the exact-case column it stored
    val wmQ = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      .quoteIdentifier(watermarkCol)
    val sub = s"(SELECT * FROM $schema.$table " +
      s"WHERE $wmQ > $lowerExclusive) graft_incr"
    partition match {
      case Some((column, lower, upper, n)) =>
        spark.read.jdbc(url, sub, column, lower, upper, n, props)
      case None =>
        spark.read.jdbc(url, sub, props)
    }
  }

  /** `to_sql` analog. pandas `if_exists="replace"` -> Overwrite,
    * `"append"` -> Append (dm:47-48: replace; dm:164: append).
    */
  def writeJdbcTable(df: DataFrame, url: String, schema: String,
      table: String, user: String, password: String, replace: Boolean): Unit = {
    val props = new Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    df.write
      .mode(if (replace) SaveMode.Overwrite else SaveMode.Append)
      .jdbc(url, s"$schema.$table", props)
  }

  /** Harness-side table scan (the driver testdata): self-describing
    * parquet, one file per table.
    *
    * Schema inference runs once per file. `spark.read.parquet` starts a
    * Spark job to read footers even for a single file, so the first read
    * of a path infers through Spark's own path and remembers the schema;
    * later reads pass it back with `spark.read.schema(..)`, which starts
    * no job. The remembered schema is keyed by
    *  - the qualified path,
    *  - the (name, length, modification time) of every file under it,
    *    from one listing with the session's Hadoop conf,
    *  - the session settings parquet inference reads: `binaryAsString`,
    *    `int96AsTimestamp`, `inferTimestampNTZ.enabled` and `mergeSchema`
    *    under `spark.sql.parquet.`, plus
    *    `spark.sql.legacy.parquet.nanosAsLong` and `spark.sql.caseSensitive`.
    * A rewritten file (new length, mtime or part-file names) or a changed
    * setting therefore infers again, and the new schema replaces the old
    * entry: one entry per path. Every call returns a fresh relation with
    * new expression ids, exactly as before. A path that cannot be listed
    * is read uncached, so Spark raises its own error.
    */
  def readParquetTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    parquetSchemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((qualified, key)) =>
        inferredSchemas.get(qualified) match {
          case (`key`, schema) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            inferredSchemas.put(qualified, (key, df.schema))
            df
        }
    }
  }

  /** Session settings that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** qualified path -> (key it was inferred under, schema). */
  private val inferredSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, (SchemaKey, StructType)]()

  /** ((name, length, mtime) of every file, inference setting values). */
  private type SchemaKey = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** (qualified path, cache key) of a parquet path, None if unlistable.
    * The listing is taken before inference: a file rewritten in between
    * is remembered under the old listing, which the next read's listing
    * no longer matches, so it infers again rather than serve a stale
    * schema. */
  private def parquetSchemaKey(spark: SparkSession,
      path: String): Option[(String, SchemaKey)] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      def leaves(s: FileStatus): Seq[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves) else Seq(s)
      val files = leaves(fs.getFileStatus(p))
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
        .sortBy(_._1)
      val confs = InferenceConfs.map(k => spark.conf.getOption(k))
      Some((fs.makeQualified(p).toString, (files, confs)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Read a parquet corpus whose schema EVOLVED across vintages — the
    * 100 TB crawl reality: month N's writer adds a column (a new quality
    * score, a license tag) and the corpus directory now holds both
    * footers. `mergeSchema` unions the per-file schemas at planning time
    * (old files serve null for columns they predate); it is opt-in
    * because the union costs a footer read per file — pay it once at the
    * ingest boundary, then write the NORMALIZED schema forward, never on
    * every downstream scan. Pushdown survives: predicates on columns
    * present in all vintages still prune row groups per file
    * (spec-pinned).
    *
    * The hazard this API deliberately does NOT paper over: parquet has
    * no rename — a renamed column is a drop + add, old rows read null
    * under the new name. Renames need an explicit
    * `withColumnRenamed`-at-read compatibility view, not schema merge;
    * silently merging a renamed column into two half-null columns is
    * the classic evolved-corpus bug, so it is named here.
    */
  def readParquetEvolved(spark: SparkSession, dir: String,
      table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$dir/$table")

  /** Harness sink with the same replace/append split as the JDBC one. */
  def writeParquetTable(df: DataFrame, dir: String, table: String,
      replace: Boolean): Unit =
    df.write
      .mode(if (replace) SaveMode.Overwrite else SaveMode.Append)
      .parquet(s"$dir/$table")

  /** CSV scan with an EXPLICIT schema. Header row for column names, but
    * types are caller-supplied: `inferSchema` costs a whole extra pass
    * over the data (fatal at 100 TB) and silently guesses — a staging
    * feed's contract should be declared, not sniffed. Multiline quoting
    * on so embedded newlines in text columns round-trip.
    */
  def readCsvTable(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(s"$dir/$table.csv")

  def writeCsvTable(df: DataFrame, dir: String, table: String,
      replace: Boolean): Unit =
    df.write
      .mode(if (replace) SaveMode.Overwrite else SaveMode.Append)
      .option("header", "true")
      .option("escape", "\"")
      .csv(s"$dir/$table.csv")

  /** JSON-lines scan, schema declared for the same no-extra-pass reason
    * as CSV (splittable per line, so it scales out; timestamps/longs keep
    * their declared types instead of JSON's stringly defaults).
    */
  def readJsonTable(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(s"$dir/$table.jsonl")

  def writeJsonTable(df: DataFrame, dir: String, table: String,
      replace: Boolean): Unit =
    df.write
      .mode(if (replace) SaveMode.Overwrite else SaveMode.Append)
      .json(s"$dir/$table.jsonl")

  /** JSON-lines scan with a CORRUPT-RECORD QUARANTINE channel: malformed
    * lines land in `__rejected` (PERMISSIVE mode) instead of failing the
    * job or being silently dropped — the ingest posture for crawl data,
    * where a 100 TB feed ALWAYS contains breakage and the pipeline must
    * both keep going and account for every rejected line (a silent drop
    * is a data-loss bug wearing a robustness costume). Callers split on
    * `__rejected IS NULL` for the clean stream and aggregate the rest
    * into reject telemetry. The declared schema keeps the single-pass
    * no-inference scan of [[readJsonTable]].
    *
    * Caveat (Spark semantics): a query referencing ONLY the corrupt
    * column over the raw file scan is rejected by the analyzer — persist
    * the parsed frame (cache, or write the split outputs) before probing
    * the quarantine channel alone; in the real ingest loop the write IS
    * the materialization, so this costs nothing extra.
    */
  def readJsonTableQuarantine(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("__rejected", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "__rejected")
      .json(s"$dir/$table.jsonl")

  /** FAILFAST flavor — the posture for trusted internal feeds where a
    * malformed line means upstream breakage that must stop the job, not
    * be quarantined.
    */
  def readJsonTableStrict(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST")
      .json(s"$dir/$table.jsonl")

  /** ORC scan — the other columnar lake format Spark ships natively
    * (self-describing like parquet; same predicate-pushdown and
    * column-pruning path, min/max stripe skipping instead of row
    * groups). Completes the format matrix: columnar (parquet, ORC),
    * row-text (CSV, JSON-lines), relational (JDBC).
    */
  def readOrcTable(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.orc(s"$dir/$table.orc")

  def writeOrcTable(df: DataFrame, dir: String, table: String,
      replace: Boolean): Unit =
    df.write
      .mode(if (replace) SaveMode.Overwrite else SaveMode.Append)
      .orc(s"$dir/$table.orc")
}
