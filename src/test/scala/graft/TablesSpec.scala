package graft

import org.apache.spark.sql.functions._

/** Loader helpers: ns-timestamp normalization and the widen-if-narrow
  * repartition guard. */
class TablesSpec extends SparkSpec {

  test("spread widens a narrow scan to cluster width") {
    val docs = Tables.documents(spark, sfDir) // one small file → 1 partition
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val widened = Tables.spread(spark, docs)
    assert(widened.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    assert(widened.count() === docs.count())
  }

  test("spread is a no-op on an already-wide DataFrame") {
    val wide = Tables.documents(spark, sfDir).repartition(8)
    assert(Tables.spread(spark, wide).rdd.getNumPartitions === 8)
  }

  test("events.ts normalizes the driver fixture to µs TIMESTAMP_NTZ") {
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    // values land in the fixture's 2024-01 window, not 1970 (a wrong-unit
    // misread would be decades of drift — exactly the round-7 regression)
    val yr = ev.agg(min(year(col("ts"))), max(year(col("ts")))).head()
    assert(yr.getInt(0) === 2024 && yr.getInt(1) === 2024)
  }

  // The driver regenerated the fixture with a different ts unit once
  // (round 7: NANOS→MICROS) — pin BOTH unit paths on synthesized files so
  // the loaders stay correct under whatever unit the next regeneration
  // carries, independent of the current testdata.
  for (unit <- Seq("NANOS", "MICROS", "MILLIS")) {
    test(s"events loader adapts to a TIMESTAMP($unit) footer") {
      val dir = scratchDir(s"tsu$unit")
      TsUnitFixture.writeEvents(dir, unit, rows = 50)
      assert(Tables.eventsTsUnit(dir.toString) === unit)
      val ev = Tables.events(spark, dir.toString)
      assert(ev.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampNTZType)
      val lo = ev.agg(min(col("ts"))).head()
        .getAs[java.time.LocalDateTime](0)
      assert(lo === java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0))
      // raw-µs view agrees with the normalized view in every unit
      val raw = Tables.eventsRawMicros(spark, dir.toString)
      assert(raw.schema("ts").dataType === org.apache.spark.sql.types.LongType)
      val bounds = raw.agg(min(col("ts")), max(col("ts"))).head()
      assert(bounds.getLong(0) === TsUnitFixture.BaseEpochSec * 1000000L)
      assert(bounds.getLong(1) === (TsUnitFixture.BaseEpochSec + 49) * 1000000L)
    }
  }
}
