package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Opq, ProductQuantizer, Quantizer}

/** Optimized Product Quantization (Ge et al., CVPR'13): the learned
  * rotation is orthogonal (distance-preserving), training never does worse
  * than plain PQ on its sample by construction, and on data whose
  * correlations straddle the subvector split — PQ's worst case — the
  * rotation buys a real reconstruction-error reduction. */
class OpqSpec extends SparkSuite {
  import spark.implicits._

  /** Vectors engineered so correlated coordinate pairs land in DIFFERENT
    * PQ subvectors: 8-dim, m=4 (subDim 2), coordinate j of the first half
    * strongly correlates with coordinate j of the second half — every
    * (j, j+4) pair straddles the m=4 split, so axis-aligned PQ must spend
    * codewords on variance a rotation can collapse. Deterministic LCG. */
  private def correlated(n: Int): Seq[(Long, Seq[Double])] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    (0 until n).map { i =>
      val latent = Array.fill(4)(4.0 * next())
      val noise = Array.fill(8)(0.1 * next())
      val v = (0 until 8).map(j => latent(j % 4) + noise(j))
      (i.toLong, v)
    }
  }

  private lazy val emb = correlated(2000).toDF("vec_id", "embedding")

  test("rotation is orthogonal and preserves L2 distances") {
    val model = Opq.train(emb, "embedding", numSubvectors = 4,
      numBits = 4, sampleSize = 1000, opqIters = 4)
    val r = model.rotation
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(t => r(i)(t) * r(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-8, s"RRt[$i][$j] = $dot, want $want")
    }
    val x = Array(1.0, -2.0, 3.0, 0.5, -1.5, 2.5, 0.0, 4.0)
    val q = Array(0.5, 0.5, -1.0, 2.0, 3.0, -0.5, 1.0, 0.0)
    def l2(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (p, t) => (p - t) * (p - t) }.sum)
    assert(math.abs(l2(model.rotate(x), model.rotate(q)) - l2(x, q)) < 1e-9)
    // round trip: unrotate . rotate = id
    val rt = model.unrotate(model.rotate(x))
    x.zip(rt).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("never worse than plain PQ on the training sample; clearly better on cross-split correlation") {
    val sample = correlated(1000).map(_._2.toArray).toArray
    val opq = Opq.train(emb, "embedding", numSubvectors = 4,
      numBits = 4, sampleSize = 1000, opqIters = 6)
    val pq = ProductQuantizer.train(emb, "embedding", numSubvectors = 4,
      numBits = 4, sampleSize = 1000)
    def pqMse(m: ProductQuantizer.Model): Double = {
      var s = 0.0
      sample.foreach { v =>
        val y = m.decode(m.encode(v))
        v.indices.foreach { j => val df = v(j) - y(j); s += df * df }
      }
      s / sample.length
    }
    val opqErr = opq.mse(sample)
    val pqErr = pqMse(pq)
    // iteration 0 IS plain PQ (identity rotation, same seeds) and the
    // argmin iterate is returned, so <= holds by construction; on this
    // correlated set the rotation should buy a large real margin
    assert(opqErr <= pqErr + 1e-9, s"OPQ mse $opqErr > PQ mse $pqErr")
    assert(opqErr < 0.7 * pqErr,
      s"OPQ mse $opqErr not clearly below PQ mse $pqErr on cross-split-correlated data")
  }

  test("ADC over rotated codes approximates exact distances; top-k recall vs brute force") {
    val model = Opq.train(emb, "embedding", numSubvectors = 4,
      numBits = 4, sampleSize = 1000, opqIters = 4)
    val query = correlated(2001).last._2
    val encoded = emb.withColumn("opq_codes", Opq.encodeCol(model, col("embedding")))
    val adc = encoded
      .withColumn("adc", Opq.adcDistance(model, col("opq_codes"), query))
      .withColumn("exact", graft.functions.GraftFunctions.l2_distance(
        col("embedding"), graft.functions.GraftFunctions.vec(query)))
      .select("adc", "exact").collect()
    val mre = adc.map(r => math.abs(r.getDouble(0) - r.getDouble(1)) / (r.getDouble(1) + 1e-9))
    assert(mre.sum / mre.length < 0.2, "mean relative ADC error too high")
    val got = Quantizer.rerankTopK(encoded, Quantizer.OpqCodec.estimate(model, query), query,
      k = 10, rerank = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val oracle = Ann.bruteForceTopK(emb, query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val recall = got.toSet.intersect(oracle.toSet).size.toDouble / 10
    assert(recall >= 0.9, s"recall@10 $recall below 0.9; got=$got oracle=$oracle")
  }
}
