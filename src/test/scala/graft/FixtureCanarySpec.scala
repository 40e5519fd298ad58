package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hard gate for the schema-drift canary: the shipped fixtures must pass
  * clean, a deliberately drifted temp parquet must fail WITH THE COLUMN
  * NAMED, and Tables.tsToNanos must normalize every admissible events.ts
  * vintage to identical Long nanos (the round-5 regression class).
  */
class FixtureCanarySpec extends SparkSpec {

  test("shipped fixtures pass the canary") {
    val drifts = FixtureCanary.check(spark, sf0001)
    assert(drifts.isEmpty, drifts.mkString("; "))
  }

  test("deliberate ts drift fails the canary naming the column") {
    val dir = java.nio.file.Files.createTempDirectory("canary").toString
    // events with ts as DOUBLE — not an admissible vintage
    spark.read.parquet(s"$sf0001/events.parquet")
      .withColumn("ts", lit(1.5d))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.read.parquet(s"$sf0001/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val drifts = FixtureCanary.check(spark, dir)
    assert(drifts.exists(m => m.contains("events.ts") && m.contains("DOUBLE")), drifts.mkString("; "))
    // and the loader itself refuses it with the same pointer
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("'ts'"))
  }

  test("in-place drift at an already-checked path is still named") {
    val dir = java.nio.file.Files.createTempDirectory("canary3").toString
    for (t <- FixtureCanary.Expected.map(_._1).distinct)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf0001/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    val clean = FixtureCanary.check(spark, dir)
    assert(clean.isEmpty, clean.mkString("; "))
    // same path, new content: a stale remembered schema would hide this
    spark.read.parquet(s"$sf0001/events.parquet")
      .withColumn("ts", lit(1.5d))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val drifts = FixtureCanary.check(spark, dir)
    assert(drifts.exists(m => m.contains("events.ts") && m.contains("DOUBLE")), drifts.mkString("; "))
  }

  test("missing column is drift") {
    val dir = java.nio.file.Files.createTempDirectory("canary2").toString
    spark.read.parquet(s"$sf0001/events.parquet").drop("value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.read.parquet(s"$sf0001/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(FixtureCanary.check(spark, dir).exists(_.contains("events.value")))
  }

  test("tsToNanos normalizes every admissible vintage identically") {
    import spark.implicits._
    val micros = 1704067798778549L // 2024-01-01T00:09:58.778549Z
    val ntz = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val ltz = Seq(micros).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val lng = Seq(micros * 1000L).toDF("ts")
    for (df <- Seq(ntz, ltz, lng)) {
      val out = Tables.tsToNanos(df)
      assert(out.schema("ts").dataType == LongType)
      assert(out.select("ts").as[Long].head() == micros * 1000L)
    }
  }
}
