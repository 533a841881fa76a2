package graft.etl

import graft.SparkSpec

/** etl_shard_export (SURVEY L42): deterministic training-shard export —
  * one clustered partitioned write, one catalog snapshot, one file per
  * shard, shard membership a pure function of doc_id. */
class ShardExportSpec extends SparkSpec {

  test("etl_shard_export: 8 shards, one file each, all docs accounted for") {
    val rows = graft.queries.Etl.queries("etl_shard_export")(spark, sfDir)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L to 7L))
    // every document lands in exactly one shard
    val total = rows.map(_.getLong(1)).sum
    assert(total === graft.Tables.documents(spark, sfDir).count())
    // the manifest census invariant: exactly one data file per shard
    assert(rows.forall(_.getBoolean(4)))
    // shard assignment is deterministic: a second export agrees per shard
    val again = graft.queries.Etl.queries("etl_shard_export")(spark, sfDir)
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq)
  }

  test("etl_jsonl_roundtrip: parsed shard rows are EXACTLY the source rows") {
    import org.apache.spark.sql.functions._
    // stronger than the declared aggregates: full row-set identity
    // between the source table and what a JSONL consumer parses back
    val nShards = 8
    val draw = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
    val base = scratchDir("rt_spec")
    val out = base.resolve("shards").toString
    val src = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "text")
    src.withColumn("shard", draw % nShards)
      .select(col("shard"),
        to_json(struct(col("doc_id"), col("lang"), col("source"), col("text")))
          .as("value"))
      .repartition(nShards, col("shard"))
      .write.partitionBy("shard").mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, source STRING, text STRING")
    val parsed = spark.read.format("text").load(out)
      .select(from_json(col("value"), schema).as("r")).select("r.*")
    assert(parsed.count() === src.count())
    // symmetric difference empty = byte-lossless round trip per field
    assert(parsed.exceptAll(src).count() === 0)
    assert(src.exceptAll(parsed).count() === 0)
  }

  test("etl_jsonl_export: same membership as the parquet export, bytes stable") {
    val jsonl = graft.queries.Etl.queries("etl_jsonl_export")(spark, sfDir)
      .collect()
    assert(jsonl.map(_.getLong(0)).toSeq === (0L to 7L))
    assert(jsonl.map(_.getLong(1)).sum ===
      graft.Tables.documents(spark, sfDir).count())
    assert(jsonl.forall(_.getBoolean(3)), "one text file per shard dir")
    // the md5 draw is shared with etl_shard_export: per-shard doc counts
    // must agree between the two formats
    val parquet = graft.queries.Etl.queries("etl_shard_export")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    jsonl.foreach(r => assert(parquet(r.getLong(0)) === r.getLong(1)))
    // serialized bytes are stable: a re-export reproduces every checksum
    val again = graft.queries.Etl.queries("etl_jsonl_export")(spark, sfDir)
      .collect()
    assert(jsonl.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      again.map(r => (r.getLong(0), r.getLong(2))).toSeq)
  }
}
