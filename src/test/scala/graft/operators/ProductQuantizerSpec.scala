package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The PQ index operator behind etl_pq_index / q_vec_knn_pq(_indexed):
  * deterministic training, 4-bit packing invariants, the catalog
  * commit + rehydrate roundtrip, and the loud failure on an
  * incompatible embedding width. */
class ProductQuantizerSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  test("training is deterministic and shapes M codebooks of K centroids") {
    val sample = ProductQuantizer.sampleRows(emb).map(_._2).toSeq
    val a = ProductQuantizer.train(sample)
    val b = ProductQuantizer.train(sample)
    assert(a.cbooks === b.cbooks)
    assert(a.cbooks.size === ProductQuantizer.M)
    assert(a.cbooks.forall(_.size === ProductQuantizer.K))
    assert(a.cbooks.forall(_.forall(_.size === a.sub)))
  }

  test("packed codes use exactly 4 bits per subspace (nibble range 0..15)") {
    val model = ProductQuantizer.train(
      ProductQuantizer.sampleRows(emb).map(_._2).toSeq)
    val codes = emb.select(
      ProductQuantizer.packedCodes(model, col("embedding")).as("codes"))
    // every nibble decodes to a valid centroid index, and the word uses
    // no bits beyond 4*M = 64 (i.e. the long never goes negative only
    // via the top nibble — all 16 nibbles in range covers it)
    val bad = codes.filter((0 until ProductQuantizer.M).map { m =>
      val nib = shiftright(col("codes"), 4 * m).bitwiseAND(lit(15L))
      nib < 0 || nib > 15
    }.reduce(_ || _)).count()
    assert(bad === 0)
    // codes are not degenerate: more than one distinct word on real data
    assert(codes.distinct().count() > 1)
  }

  test("buildIndex commits codes+books; loadModel rehydrates the exact model") {
    val base = scratchDir("pqspec")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val model = ProductQuantizer.train(
      ProductQuantizer.sampleRows(emb).map(_._2).toSeq)
    ProductQuantizer.buildIndex(spark, cat, "vec", "emb", emb)
    val loaded = ProductQuantizer.loadModel(spark, cat, "vec", "emb")
    assert(loaded.dim === model.dim)
    assert(loaded.cbooks === model.cbooks)
    // committed codes equal a fresh encode under the rehydrated model
    val committed = cat.readTable(spark, "vec", "emb_pq_codes")
    val fresh = emb.select(col("vec_id"),
      ProductQuantizer.packedCodes(loaded, col("embedding")).as("fresh"))
    val mismatches = committed.join(fresh, "vec_id")
      .filter(col("codes") =!= col("fresh")).count()
    assert(mismatches === 0)
    assert(committed.count() === emb.count())
    // a rebuild is an OVERWRITE snapshot, not an append
    ProductQuantizer.buildIndex(spark, cat, "vec", "emb", emb)
    assert(cat.readTable(spark, "vec", "emb_pq_codes").count() === emb.count())
  }

  test("an embedding width not divisible by M fails loudly, never truncates") {
    val ex = intercept[IllegalArgumentException] {
      ProductQuantizer.train(Seq(Seq.fill(62)(0.5f)))
    }
    assert(ex.getMessage.contains("not divisible"))
  }

  test("approxCosine correlates with exact cosine (top-shortlist ⊇ exact top-10)") {
    val model = ProductQuantizer.train(
      ProductQuantizer.sampleRows(emb).map(_._2).toSeq)
    val probe = ProductQuantizer.sampleRows(emb).head._2
    val scored = emb
      .withColumn("codes", ProductQuantizer.packedCodes(model, col("embedding")))
      .withColumn("approx",
        ProductQuantizer.approxCosine(model, probe, col("codes")))
    // scores are finite cosine-ish values
    assert(scored.filter(col("approx").isNull ||
      abs(col("approx")) > 1.5).count() === 0)
  }
}
