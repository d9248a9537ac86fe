package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, ProductQuantizer, Quantizer}

/** Product quantization: encode/decode fidelity and ADC-ranked search
  * recall vs the exact oracle (SURVEY §2.8 V3/V4). */
class PqSpec extends SparkSuite {
  import spark.implicits._

  // clustered vectors: 8 clusters in 16-dim, small deterministic jitter
  private lazy val emb = (0 until 512).map { i =>
    val c = i % 8
    val v = (0 until 16).map { d =>
      (if (d % 8 == c) 5.0 else 0.0) + 0.05 * ((i * 37 + d * 11) % 9 - 4)
    }
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("encode/decode: reconstruction close to original on clustered data") {
    val model = ProductQuantizer.train(emb, "embedding", numSubvectors = 4,
      numBits = 4, sampleSize = 512)
    val v = emb.filter(col("vec_id") === 3).select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val rec = model.decode(model.encode(v))
    val err = math.sqrt(v.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum)
    val norm = math.sqrt(v.map(x => x * x).sum)
    assert(err / norm < 0.15, s"relative reconstruction error $err / $norm too high")
  }

  test("ADC distance approximates exact distance; LUT sizes correct") {
    val model = ProductQuantizer.train(emb, "embedding", numSubvectors = 4,
      numBits = 4, sampleSize = 512)
    val query = (0 until 16).map(d => if (d % 8 == 2) 5.0 else 0.0)
    assert(model.lut(query).length === 4 * 16)
    val encoded = emb.withColumn("pq_codes",
      ProductQuantizer.encodeCol(model, col("embedding")))
    val adc = encoded
      .withColumn("adc", ProductQuantizer.adcDistance(model, col("pq_codes"), query))
      .withColumn("exact", graft.functions.GraftFunctions.l2_distance(
        col("embedding"), graft.functions.GraftFunctions.vec(query)))
      .select("adc", "exact").collect()
    val mre = adc.map(r => math.abs(r.getDouble(0) - r.getDouble(1)) / (r.getDouble(1) + 1e-9))
    assert(mre.sum / mre.length < 0.2, "mean relative ADC error too high")
  }

  test("PQ top-k with re-ranking matches the exact oracle") {
    val model = ProductQuantizer.train(emb, "embedding", numSubvectors = 4,
      numBits = 4, sampleSize = 512)
    val query = (0 until 16).map(d => if (d % 8 == 5) 5.0 else 0.01)
    val encoded = emb.withColumn("pq_codes",
      ProductQuantizer.encodeCol(model, col("embedding")))
    val got = Quantizer.rerankTopK(encoded, Quantizer.PqCodec.estimate(model, query), query,
      k = 10, rerank = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val oracle = Ann.bruteForceTopK(emb, query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val recall = got.toSet.intersect(oracle.toSet).size.toDouble / 10
    assert(recall >= 0.9, s"recall@10 $recall below 0.9; got=$got oracle=$oracle")
  }
}
