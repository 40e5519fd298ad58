package graft

import graft.sources.Sources
import java.nio.file.{Files, Paths}
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.types._

/** The parquet read path behind every `Tables.*` loader infers a file's
  * schema once: repeated loads start no Spark job, and a rewritten file
  * or a changed inference setting infers again.
  */
class ParquetSchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A private copy of a fixture table, so the first load really infers. */
  private def copyOf(table: String): String = {
    val dir = Files.createTempDirectory("schemacache").toString
    Files.copy(Paths.get(s"$sf0001/$table.parquet"), Paths.get(s"$dir/$table.parquet"))
    dir
  }

  test("a second Tables.orders load starts zero Spark jobs") {
    val d = copyOf("orders")
    val (first, firstJobs) = JobCounter.jobsIn(spark.sparkContext)(Tables.orders(spark, d))
    assert(firstJobs >= 1, "the first load infers the schema with a job")
    val (second, secondJobs) = JobCounter.jobsIn(spark.sparkContext)(Tables.orders(spark, d))
    assert(secondJobs == 0, s"second load started $secondJobs jobs")
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("cached loads return exactly the schema Spark infers, for every fixture") {
    for (t <- fixtures) {
      Sources.readParquetTable(spark, sf0001, t)
      val cached = Sources.readParquetTable(spark, sf0001, t).schema
      assert(cached == spark.read.parquet(s"$sf0001/$t.parquet").schema, t)
    }
  }

  test("rewriting a table in place with an added or dropped column infers again") {
    val dir = Files.createTempDirectory("schemacache").toString
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/t.parquet")
    write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    assert(Sources.readParquetTable(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    assert(Sources.readParquetTable(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    write(Seq((1L, "a", 0.5d)).toDF("id", "name", "score"))
    val added = Sources.readParquetTable(spark, dir, "t")
    assert(added.columns.toSeq == Seq("id", "name", "score"))
    assert(added.as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 0.5d)))
    write(Seq(7L).toDF("id"))
    val dropped = Sources.readParquetTable(spark, dir, "t")
    assert(dropped.columns.toSeq == Seq("id"))
    assert(dropped.as[Long].collect().toSeq == Seq(7L))
  }

  test("flipping spark.sql.parquet.binaryAsString between loads infers under each setting") {
    // written without Spark's footer schema (which would pin BinaryType):
    // an un-annotated binary column, as Impala or Hive write strings
    val dir = Files.createTempDirectory("schemacache").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary payload; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/bin.parquet"))
      .withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 1L).append("payload", "x"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    // the second load of each pair is served from the remembered schema
    def load() = Seq.fill(2)(Sources.readParquetTable(spark, dir, "bin").schema).last
    def inferred() = spark.read.parquet(s"$dir/bin.parquet").schema
    try {
      spark.conf.set(key, "false")
      assert(load()("payload").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = load()
      assert(asString("payload").dataType == StringType)
      assert(asString == inferred())
      spark.conf.set(key, "false")
      val asBinary = load()
      assert(asBinary("payload").dataType == BinaryType)
      assert(asBinary == inferred())
    } finally spark.conf.unset(key)
  }

  test("a self-join of two loads of one table matches spark.read.parquet") {
    val d = copyOf("nation")
    def selfJoin(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.as("a").join(b.as("b"), $"a.n_regionkey" === $"b.n_regionkey")
        .select($"a.n_name", $"b.n_name").as[(String, String)].collect().sorted.toSeq
    val got = selfJoin(Tables.nation(spark, d), Tables.nation(spark, d))
    val want = selfJoin(spark.read.parquet(s"$d/nation.parquet"),
      spark.read.parquet(s"$d/nation.parquet"))
    assert(got.nonEmpty && got == want)
  }
}
