package graft

import org.apache.spark.sql.functions._
import graft.core.CollectionConfig
import graft.operators.{Ann, Quantizer, RaBitQ}

/** RaBitQ binary quantization (SURVEY §2.8 V6): rotation orthonormality,
  * estimator quality, re-ranked search recall vs the exact oracle, and the
  * collection-level quantizer="rabitq" path. */
class RabitqSpec extends SparkSuite {
  import spark.implicits._

  // clustered vectors: 8 clusters in 16-dim, small deterministic jitter
  private lazy val emb = (0 until 512).map { i =>
    val c = i % 8
    val v = (0 until 16).map { d =>
      (if (d % 8 == c) 5.0 else 0.0) + 0.05 * ((i * 37 + d * 11) % 9 - 4)
    }
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("rotation is orthonormal: norms and dot products preserved") {
    val model = RaBitQ.train(emb, "embedding", sampleSize = 512)
    val a = Array.tabulate(16)(d => math.sin(d + 1.0))
    val b = Array.tabulate(16)(d => math.cos(2.0 * d - 1.0))
    val ra = model.rotate(a)
    val rb = model.rotate(b)
    def dot(x: Array[Double], y: Array[Double]) = x.zip(y).map(t => t._1 * t._2).sum
    assert(math.abs(dot(ra, ra) - dot(a, a)) < 1e-9, "norm not preserved")
    assert(math.abs(dot(ra, rb) - dot(a, b)) < 1e-9, "dot product not preserved")
  }

  test("estimated distance tracks the exact distance") {
    val model = RaBitQ.train(emb, "embedding", sampleSize = 512)
    val query = (0 until 16).map(d => if (d % 8 == 2) 5.0 else 0.0)
    val encoded = emb
      .withColumn("rq", RaBitQ.encodeCols(model, col("embedding")))
      .select(col("vec_id"), col("embedding"),
        col("rq._1").as("rq_code"), col("rq._2").as("rq_f"), col("rq._3").as("rq_norm"))
    val rows = encoded
      .withColumn("est", RaBitQ.estDistance(
        model, col("rq_code"), col("rq_f"), col("rq_norm"), query))
      .withColumn("exact", graft.functions.GraftFunctions.l2_distance(
        col("embedding"), graft.functions.GraftFunctions.vec(query)))
      .select("est", "exact").collect()
    val mre = rows.map(r => math.abs(r.getDouble(0) - r.getDouble(1)) / (r.getDouble(1) + 1e-9))
    assert(mre.sum / mre.length < 0.25,
      f"mean relative estimator error ${mre.sum / mre.length}%.3f too high")
  }

  test("RaBitQ top-k with re-ranking matches the exact oracle") {
    val model = RaBitQ.train(emb, "embedding", sampleSize = 512)
    val query = (0 until 16).map(d => if (d % 8 == 5) 5.0 else 0.01)
    val encoded = emb
      .withColumn("rq", RaBitQ.encodeCols(model, col("embedding")))
      .select(col("vec_id"), col("embedding"),
        col("rq._1").as("rq_code"), col("rq._2").as("rq_f"), col("rq._3").as("rq_norm"))
    val got = Quantizer.rerankTopK(encoded, Quantizer.RabitqCodec.estimate(model, query), query,
      k = 10, rerank = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val oracle = Ann.bruteForceTopK(emb, query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val recall = got.toSet.intersect(oracle.toSet).size.toDouble / 10
    assert(recall >= 0.9, s"recall@10 $recall below 0.9; got=$got oracle=$oracle")
  }

  test("rabitq-quantized collection returns the golden neighbors") {
    val base = java.nio.file.Files.createTempDirectory("graft_rq").toString
    val rows = (0 until 1000).map { i =>
      (0L, i.toLong, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble))
    }.toDF("user_id", "doc_id", "vector")
    CollectionSpec.assertQuantizedGolden(spark, base, CollectionConfig(
      name = "crq", numFeatures = 4, initialNumCentroids = 10, quantizer = "rabitq"),
      rows, "rq_code")
  }
}
