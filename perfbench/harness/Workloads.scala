package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.{CustomerDimPipeline, Similarity}

/** The rows an action returned, with their schema (null for calls that
  * return nothing). */
final case class Out(rows: Array[Row], schema: StructType)

object Out {
  val empty: Out = Out(Array.empty, null)
  def collect(df: DataFrame): Out = Out(df.collect(), df.schema)
}

/** How an op's output is checked against an independent answer. */
sealed trait Check
/** Rows go to the DuckDB twin of the registered query. */
final case class Oracle(sql: String) extends Check
/** Rows go to an exact brute-force top-k over `corpus` ("all"/"live"). */
final case class Recall(corpus: String) extends Check
/** What the op wrote, read back, must equal `expected`. */
final case class ReadBack(read: () => Array[Row], expected: () => Array[Row]) extends Check
/** Rows must equal an answer computed another way in the same JVM. */
final case class Reference(expected: () => Array[Row]) extends Check
/** Rows must equal those of another op of the same pass, plus `also`. */
final case class SameAs(op: String, also: Check) extends Check

/** One timed operation: `call` is the module function, `action` the
  * count, write or collect that runs its result. `layer` names the
  * module the call enters. */
final case class Op(name: String, layer: String, writes: Boolean,
    call: () => Any, action: Any => Out, check: Check)

final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val seed: Long) {
  def table(name: String): DataFrame = spark.read.parquet(s"$inputs/$name.parquet")
  /** Base state built by the last setup repetition. */
  var state: String = _
}

trait Workload {
  /** Input tables whose rows one pass reads (rows_per_s numerator). */
  def tables: Seq[String]
  /** Build the base state under `dir`; run before the first pass. */
  def setup(c: Ctx, dir: String): Unit = ()
  def ops(c: Ctx, pass: Int): Seq[Op]
  /** Rows the workload reads per pass (defaults to the input tables). */
  def inputRows(c: Ctx): Long = tables.map(c.table(_).count()).sum

  protected def collectOp(name: String, layer: String, df: () => DataFrame,
      check: Check): Op =
    Op(name, layer, writes = false, df, d => Out.collect(d.asInstanceOf[DataFrame]), check)

  protected def registered(c: Ctx, name: String): Op =
    collectOp(name, "queries", () => Workload.queries(name)(c.spark, c.inputs),
      Oracle(Workload.oracle(name)))
}

object Workload {
  lazy val queries = SparkEntry.queries
  lazy val oracle = SparkEntry.oracleSql
}

object Workloads {
  val all: Map[String, Workload] = Map(
    "scd2_refresh" -> Scd2Refresh,
    "dedup_corpus" -> DedupCorpus,
    "ann_lifecycle" -> AnnLifecycle,
    "index_scan" -> IndexScan)
}

/** The reference program: the 22 reference blocks, then the pipeline's
  * three output images written out. */
object Scd2Refresh extends Workload {
  val tables = Seq("customer", "orders", "lineitem", "part", "supplier", "nation", "region")
  private val images = Seq[(String, CustomerDimPipeline.Outputs => DataFrame)](
    "upsert" -> (_.upsertImage), "insert" -> (_.insertImage), "hist" -> (_.histDelta))

  def ops(c: Ctx, pass: Int): Seq[Op] = {
    val refs = Workload.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
      .map(registered(c, _))
    val writes = images.map { case (name, pick) =>
      val dir = s"${c.work}/pass$pass/$name"
      def image() = pick(CustomerDimPipeline.run(c.spark, c.inputs))
      Op(s"pipeline_$name", "operators", writes = true, () => image(),
        df => { df.asInstanceOf[DataFrame].write.mode("overwrite").parquet(dir); Out.empty },
        ReadBack(() => c.spark.read.parquet(dir).collect(), () => image().collect()))
    }
    refs ++ writes
  }
}

/** Near-duplicate detection over the document corpus. */
object DedupCorpus extends Workload {
  val tables = Seq("documents")
  private val names = Seq("ext_dedup_minhash", "ext_dedup_jaccard", "ext_dedup_tfidfcos",
    "ext_dedup_spans", "ext_cc_components")
  def ops(c: Ctx, pass: Int): Seq[Op] = names.map(registered(c, _))
}

/** The graft-index lifecycle: graph index write, append, probes by path
  * and through the connector, compaction, masked probe; then the IVF
  * index write, append, delete and probe.  Every pass builds fresh
  * indexes under its own directory. */
object AnnLifecycle extends Workload {
  val tables = Seq("embeddings", "probes")
  val K = 10
  private val CentroidEvery = 25
  private val M = 8
  private val EntryEvery = 8
  private val Beam = 8
  private val Rounds = 3

  def ops(c: Ctx, pass: Int): Seq[Op] = {
    val s = c.spark
    val emb = c.table("embeddings")
    val probes = c.table("probes")
    val tomb = c.table("tombstones")
    val (g, v) = (s"${c.work}/pass$pass/graph", s"${c.work}/pass$pass/ivf")
    def ids(df: DataFrame) = df.select(col("vec_id").cast("long")).collect()
    def stored(path: String, idCol: String) = () => ids(s.read.parquet(path).select(col(idCol).as("vec_id")))
    val written = () => ids(emb.where(col("vec_id") % 3 =!= 0))
    val allIds = () => ids(emb)
    val liveIds = () => ids(emb.join(tomb, Seq("vec_id"), "left_anti"))
    def write(name: String, f: => Unit, check: Check) =
      Op(name, "operators", writes = true, () => f, _ => Out.empty, check)
    def probe(name: String, f: => DataFrame, check: Check) =
      collectOp(name, "operators", () => f, check)
    Seq(
      write("graph_write", Similarity.writeGraphIndex(
        emb.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding", CentroidEvery, M, g),
        ReadBack(stored(s"$g/vecs", "vid"), written)),
      write("graph_append", Similarity.appendToGraphIndex(
        emb.where(col("vec_id") % 3 === 0), "vec_id", "embedding", M, g),
        ReadBack(stored(s"$g/vecs", "vid"), allIds)),
      probe("graph_probe", Similarity.probeGraphIndex(g, probes, "vec_id", "embedding",
        K, EntryEvery, Beam, Rounds), Recall("all")),
      probe("graph_probe_v2", Similarity.probeGraphIndex(g, probes, "vec_id", "embedding",
        K, EntryEvery, Beam, Rounds, viaV2 = true), SameAs("graph_probe", Recall("all"))),
      write("graph_compact", Similarity.compactGraphIndex(g, tomb),
        ReadBack(stored(s"$g/vecs", "vid"), liveIds)),
      probe("graph_probe_masked", Similarity.probeGraphIndex(g, probes, "vec_id", "embedding",
        K, EntryEvery, Beam, Rounds, tombstones = Some(tomb)), Recall("live")),
      write("ivf_write", Similarity.writeIvfIndex(
        emb.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding", CentroidEvery, v),
        ReadBack(stored(s"$v/cells", "vec_b"), written)),
      write("ivf_append", Similarity.appendToIvfIndex(
        emb.where(col("vec_id") % 3 === 0), "vec_id", "embedding", v),
        ReadBack(stored(s"$v/cells", "vec_b"), allIds)),
      write("ivf_delete", Similarity.deleteFromIvfIndex(v, tomb),
        ReadBack(stored(s"$v/cells", "vec_b"), liveIds)),
      probe("ivf_probe", Similarity.probeIvfIndex(v, probes, "vec_id", "embedding", K),
        Recall("live")))
  }
}

/** Read-only filtered scans through format("graft-index") over an
  * events layout written once at setup, partitioned by bucket and sorted
  * by event_id with small pages.  Predicate constants come from the
  * seed; each scan is checked against Spark's own parquet reader. */
object IndexScan extends Workload {
  val tables = Seq("events")

  override def setup(c: Ctx, dir: String): Unit = {
    c.table("events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("ts").cast("timestamp").as("ets"), to_date(col("ts")).as("ed"),
        expr("CAST(CAST(round(value * 100) AS BIGINT) * 0.01 AS DECIMAL(24,2))").as("amt"),
        struct(col("user_id").as("uid"), round(col("value") * 100).cast("long").as("cents")).as("s"),
        map(lit("cents"), round(col("value") * 100).cast("long"), lit("uid"), col("user_id")).as("m"),
        (col("user_id") % 8).as("bucket"))
      .repartition(col("bucket")).sortWithinPartitions("event_id")
      .write.mode("overwrite").partitionBy("bucket")
      .option("parquet.page.row.count.limit", "2000")
      .parquet(s"$dir/events")
  }

  private val cents = sum(round(col("value") * 100).cast("long")).as("sum_cents")
  private val n = count(lit(1)).as("n_events")
  private val bucket = col("bucket").cast("long").as("bucket")

  def ops(c: Ctx, pass: Int): Seq[Op] = {
    val r = new scala.util.Random(c.seed)
    val day0 = java.time.LocalDate.parse("2024-01-01")
    val t1 = java.sql.Timestamp.valueOf(s"2024-01-${"%02d".format(2 + r.nextInt(20))} 00:00:00")
    val t2 = new java.sql.Timestamp(t1.getTime + (3 + r.nextInt(4)) * 86400000L)
    val (lo, hi) = (5.0 + r.nextInt(10), 150.0 + r.nextInt(100))
    val ne = Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5))
    val prefix = Seq("c", "v", "p", "s", "e")(r.nextInt(5))
    val notIn = Seq.fill(3)(r.nextInt(150).toLong)
    val d1 = java.sql.Date.valueOf(day0.plusDays(1 + r.nextInt(14)))
    val d2 = java.sql.Date.valueOf(day0.plusDays(16 + r.nextInt(10)))
    val amt = new java.math.BigDecimal(s"${20 + r.nextInt(60)}.${10 + r.nextInt(90)}")
    val rem = r.nextInt(7)
    val nestNe = Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5))
    val maxId = c.table("events").count() - 1
    val idLo = (maxId * (0.1 + 0.7 * r.nextDouble())).toLong
    val idHi = idLo + maxId / 10
    val shapes = Seq[(String, DataFrame => DataFrame)](
      "scan_ts" -> (_.where(col("ets") >= t1 && col("ets") < t2).groupBy(bucket)
        .agg(n, min(unix_micros(col("ets"))).as("min_ets"), max(unix_micros(col("ets"))).as("max_ets"))),
      "scan_or" -> (_.where(col("value") < lo || col("value") > hi)
        .groupBy(bucket, col("event_type")).agg(n, cents)),
      "scan_ne" -> (_.where(col("event_type") =!= ne).groupBy(bucket, col("event_type")).agg(n, cents)),
      "scan_prefix" -> (_.where(col("event_type").startsWith(prefix) && !col("user_id").isin(notIn: _*))
        .groupBy(bucket).agg(n, cents)),
      "scan_date" -> (_.where(col("ed") >= lit(d1) && col("ed") =!= lit(d2)).groupBy(bucket)
        .agg(n, min(datediff(col("ed"), lit("1970-01-01"))).cast("long").as("min_day"), cents)),
      "scan_decimal" -> (_.where(col("amt") > lit(amt)).groupBy(bucket)
        .agg(n, sum((col("amt") * 100).cast("long")).as("amt_cents"))),
      "scan_nested" -> (_.where(col("s.uid") % 7 === rem && col("event_type") =!= nestNe)
        .groupBy(bucket).agg(n, sum(col("s.cents")).as("sum_cents"),
          sum(element_at(col("m"), "cents")).as("map_cents"))),
      "scan_range" -> (_.where(col("event_id") >= idLo && col("event_id") < idHi)
        .groupBy((col("user_id") % 4).as("ub")).agg(n, cents,
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))))
    val path = s"${c.state}/events"
    shapes.map { case (name, shape) =>
      collectOp(name, "sources", () => shape(c.spark.read.format("graft-index").load(path)),
        Reference(() => shape(c.spark.read.parquet(path)).collect()))
    }
  }
}
