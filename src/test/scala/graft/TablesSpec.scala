package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.QueryHelpers.scratchDir

/** Pins the `Tables.load` invariant that broke round 6: `events.ts` must
  * arrive as INT64 epoch NANOS (LongType) no matter which physical
  * timestamp type the fixture generator happened to write. The driver
  * regenerated the fixtures with TIMESTAMP(MICROS) between rounds and every
  * integer-arithmetic event query failed analysis; the load chokepoint now
  * normalizes, and this spec keeps it that way for all three spellings.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2021-03-04T05:06:07.891011Z = 1614834367891011 µs since epoch (UTC).
  private val micros = 1614834367891011L

  private def roundTrip(write: String => Unit): Long = {
    val dir = scratchDir("graft_tables").toString
    write(s"$dir/events.parquet")
    val back = Tables.load(spark, dir, "events")
    assert(back.schema("ts").dataType === LongType, "ts must load as epoch-nanos BIGINT")
    back.select("ts").as[Long].head()
  }

  test("events.ts: TIMESTAMP_NTZ micros parquet loads as epoch nanos") {
    val ns = roundTrip { path =>
      Seq((1L, java.time.LocalDateTime.ofEpochSecond(
        micros / 1000000L, (micros % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)))
        .toDF("event_id", "ts").write.mode("overwrite").parquet(path)
    }
    assert(ns === micros * 1000L)
  }

  test("events.ts: TIMESTAMP (ltz) micros parquet loads as epoch nanos") {
    val ns = roundTrip { path =>
      Seq((1L, new Timestamp(micros / 1000L)))
        .toDF("event_id", "ts")
        .withColumn("ts", timestamp_micros(lit(micros)))
        .write.mode("overwrite").parquet(path)
    }
    assert(ns === micros * 1000L)
  }

  test("events.ts: already-BIGINT nanos passes through untouched") {
    val ns = roundTrip { path =>
      Seq((1L, micros * 1000L)).toDF("event_id", "ts")
        .write.mode("overwrite").parquet(path)
    }
    assert(ns === micros * 1000L)
  }

  test("embeddings: ARRAY<DOUBLE> parquet loads as ARRAY<FLOAT>") {
    val dir = scratchDir("graft_tables").toString
    Seq((1L, Seq(0.25d, -1.5d))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val back = Tables.load(spark, dir, "embeddings")
    assert(back.schema("embedding").dataType ===
      ArrayType(FloatType, containsNull = true))
    assert(back.select("embedding").as[Seq[Float]].head() === Seq(0.25f, -1.5f))
  }

  test("driver fixture loads with LongType ts at sf0.001") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType === LongType)
    assert(ev.where(col("ts") > 0).count() > 0)
  }
}
