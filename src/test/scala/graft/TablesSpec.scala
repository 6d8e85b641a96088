package graft

import org.apache.spark.sql.functions._

/** Guards the testdata loaders — especially the TIMESTAMP(NANOS) shim for
  * events, which the whole events-query family depends on. */
class TablesSpec extends SparkSpec {

  test("events loader yields µs timestamps for either physical ts form") {
    // The driver's testdata has shipped ts as both TIMESTAMP(NANOS) (read
    // via the legacy long shim + floor) and TIMESTAMP(MICROS) (direct);
    // the loader must produce the same µs value for either generation.
    val ev = Tables.events(spark, sf())
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val r = ev.orderBy("event_id").select("event_id", "ts").head()
    // event 0 at sf0.001: 2024-01-01 00:09:58.778549(829) → µs floor
    assert(r.getLong(0) == 0L)
    assert(r.getTimestamp(1).toString == "2024-01-01 00:09:58.778549")
  }

  test("events loader handles all three ts physical forms identically") {
    // The local testdata only ever carries ONE physical form, so the
    // loader's other branches would go untested without fixtures: write a
    // one-row events.parquet in each form — nanos-as-long (what the legacy
    // knob turns TIMESTAMP(NANOS) into), TIMESTAMP(MICROS) = TimestampType,
    // and TIMESTAMP(MICROS, NTZ) = TimestampNTZType — and assert every
    // branch floors to the same µs TimestampType value.
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = tmpDir("graft-ts-forms")
    val micros = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC
    val nanos = micros * 1000L + 829L // sub-µs tail must floor away
    def dir(form: String): String = s"$base/$form"
    Seq((0L, nanos)).toDF("event_id", "ts")
      .write.parquet(s"${dir("nanoslong")}/events.parquet")
    Seq((0L, new java.sql.Timestamp(0L))).toDF("event_id", "ts")
      .withColumn("ts", expr(s"timestamp_micros(${micros}L)"))
      .write.parquet(s"${dir("micros")}/events.parquet")
    Seq((0L, new java.sql.Timestamp(0L))).toDF("event_id", "ts")
      .withColumn("ts", expr(s"timestamp_micros(${micros}L)").cast(TimestampNTZType))
      .write.parquet(s"${dir("ntz")}/events.parquet")
    val loaded = Seq("nanoslong", "micros", "ntz").map { f =>
      val ev = Tables.events(spark, dir(f))
      assert(ev.schema("ts").dataType == TimestampType, s"form $f")
      ev.select(unix_micros(col("ts"))).head().getLong(0)
    }
    assert(loaded == Seq(micros, micros, micros),
      s"ts forms disagree after load: $loaded")
    // An unknown physical form must fail loud, not null out silently.
    Seq((0L, "2024-01-01")).toDF("event_id", "ts")
      .write.parquet(s"${dir("corrupt")}/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir("corrupt")))
    assert(e.getMessage.contains("unsupported type"))
  }

  test("all star-schema tables load with pushdown-friendly scans") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")) {
      val df = Tables.table(spark, sf(), t)
      assert(df.count() > 0, s"table $t empty")
    }
  }

  test("decimal helpers are exact on 2-decimal money values") {
    import spark.implicits._
    // values whose double sum is NOT exactly representable in naive fp order
    val df = Seq(0.1, 0.2, 0.3, 100.01, 99.99).toDF("x")
    val got = df.agg(Dec.dsum(col("x"))).head().getDouble(0)
    assert(got == 200.6) // exact decimal sum, cast once at the end
  }
}
