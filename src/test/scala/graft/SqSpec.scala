package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Quantizer, ScalarQuantizer}

/** SQ8 scalar quantization (q81): range fit, encode/decode error bound,
  * estimate quality, and search recall vs brute force. */
class SqSpec extends SparkSuite {
  import spark.implicits._

  private def clustered(n: Int, d: Int, seed: Long): Seq[(Long, Seq[Double])] = {
    val r = new scala.util.Random(seed)
    val centers = Array.fill(8)(Array.fill(d)(r.nextGaussian() * 3.0))
    (0 until n).map { id =>
      val c = centers(id % 8)
      (id.toLong, c.map(_ + r.nextGaussian() * 0.3).toSeq)
    }
  }

  test("train finds exact per-dim ranges; decode error bounded by scale/2") {
    val data = clustered(300, 10, seed = 3)
    val df = data.toDF("vec_id", "embedding").repartition(7)
    val m = ScalarQuantizer.train(df)
    for (j <- 0 until 10) {
      val col_ = data.map(_._2(j))
      assert(math.abs(m.mins(j) - col_.min) < 1e-12)
      assert(math.abs(m.maxs(j) - col_.max) < 1e-12)
    }
    // round-trip: |x - decode(encode(x))| <= scale/2 per dim
    val enc = df.select(col("vec_id"),
      ScalarQuantizer.encodeCol(m, col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val sc = m.scales
    data.take(50).foreach { case (id, x) =>
      val dec = m.decode(enc(id))
      x.indices.foreach { j =>
        assert(math.abs(x(j) - dec(j)) <= sc(j) / 2 + 1e-9, s"id=$id dim=$j")
      }
    }
    // range endpoints encode to code 0 and code 255
    val edge = Seq((9000L, m.mins.toSeq), (9001L, m.maxs.toSeq)).toDF("vec_id", "embedding")
    val ec = edge.orderBy("vec_id")
      .select(ScalarQuantizer.encodeCol(m, col("embedding")))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(ec(0).forall(_ === 0.toByte))
    assert(ec(1).forall(b => (b & 0xff) === 255))
  }

  test("degenerate constant dimension encodes to 0 with zero scale") {
    val df = Seq((0L, Seq(1.0, 5.0)), (1L, Seq(2.0, 5.0))).toDF("vec_id", "embedding")
    val m = ScalarQuantizer.train(df)
    assert(m.scales(1) === 0.0 && m.invScales(1) === 0.0)
    val codes = df.orderBy("vec_id")
      .select(ScalarQuantizer.encodeCol(m, col("embedding")))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(codes.forall(_(1) === 0.toByte))
    assert(m.decode(codes(0))(1) === 5.0)
  }

  test("estimate distance tracks exact; topK recall 1.0 with rerank on clustered data") {
    val data = clustered(400, 16, seed = 9)
    val df = data.toDF("vec_id", "embedding").repartition(5)
    val m = ScalarQuantizer.train(df)
    val encoded = df.withColumn("sq_codes",
      ScalarQuantizer.encodeCol(m, col("embedding")))
    val q = data.head._2
    // estimate vs exact: within the quantization error budget
    val est = encoded
      .select(col("vec_id"), ScalarQuantizer.distanceCol(m, col("sq_codes"), q).as("est"),
        graft.functions.GraftFunctions.l2_distance(
          col("embedding").cast("array<double>"),
          graft.functions.GraftFunctions.vec(q)).as("exact"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val maxErr = math.sqrt(m.scales.map(s => (s / 2) * (s / 2)).sum)
    est.foreach { case (e, x) => assert(math.abs(e - x) <= maxErr + 1e-9) }
    // recall@10 vs brute force
    val oracle = Ann.bruteForceTopK(df, q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Quantizer.rerankTopK(encoded, Quantizer.Sq8Codec.estimate(m, q), q, k = 10, rerank = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(oracle.intersect(got).size >= 9, s"recall ${oracle.intersect(got).size}/10")
  }
}
