package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.PqAdcDistance

/** Product quantization (SURVEY §2.8 V3/V4): per-subvector k-means
  * codebooks (rs/quantization/src/pq/pq_builder.rs:43-100), byte-code
  * encoding (pq/mod.rs:152-178), reconstruction (:184-201), and
  * asymmetric ADC distance (:202-260).
  *
  * Scale posture: training reads a bounded sample; encode is one narrow
  * map against a broadcast codebook; query-time ADC cost is
  * O(numSubvectors) per row via a per-query LUT, with the inner loop in
  * codegen ([[graft.functions.PqAdcDistance]]). Codes shrink vector I/O
  * by dim*4/numSubvectors (e.g. 768-dim f32 -> 96 bytes at m=96).
  */
object ProductQuantizer {

  /** Trained model: codebooks(m)(code)(dimWithinSubvector). */
  final case class Model(dim: Int, numSubvectors: Int, codebooks: Array[Array[Array[Double]]]) {
    def numCodewords: Int = codebooks(0).length
    def subDim: Int = dim / numSubvectors

    def encode(v: Array[Double]): Array[Byte] = {
      val out = new Array[Byte](numSubvectors)
      var j = 0
      while (j < numSubvectors) {
        val cb = codebooks(j)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0.0; var t = 0
          while (t < subDim) {
            val diff = v(j * subDim + t) - cb(c)(t); d += diff * diff; t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(j) = best.toByte
        j += 1
      }
      out
    }

    def decode(codes: Array[Byte]): Array[Double] = {
      val out = new Array[Double](dim)
      var j = 0
      while (j < numSubvectors) {
        val cw = codebooks(j)(codes(j) & 0xff)
        System.arraycopy(cw, 0, out, j * subDim, subDim)
        j += 1
      }
      out
    }

    /** Flattened per-query LUT of squared sub-distances (m x k). */
    def lut(query: Seq[Double]): Array[Double] = {
      val q = query.toArray
      val k = numCodewords
      val out = new Array[Double](numSubvectors * k)
      var j = 0
      while (j < numSubvectors) {
        var c = 0
        while (c < k) {
          var d = 0.0; var t = 0
          while (t < subDim) {
            val diff = q(j * subDim + t) - codebooks(j)(c)(t); d += diff * diff; t += 1
          }
          out(j * k + c) = d
          c += 1
        }
        j += 1
      }
      out
    }
  }

  /** Train per-subvector codebooks on a driver-bounded sample. */
  def train(
      vectors: DataFrame, vecCol: String, numSubvectors: Int,
      numBits: Int = 8, sampleSize: Int = 20000, seed: Long = 42L): Model = {
    require(numBits >= 1 && numBits <= 8, "numBits in [1,8] (codes are bytes)")
    val spark = vectors.sparkSession
    import spark.implicits._
    val n = vectors.count()
    val frac = math.min(1.0, sampleSize.toDouble * 1.2 / math.max(1L, n))
    val sample = vectors.select(col(vecCol).cast("array<double>"))
      .sample(withReplacement = false, frac, seed)
      .limit(sampleSize).as[Seq[Double]].collect().map(_.toArray)
    require(sample.nonEmpty, "empty training set")
    val dim = sample(0).length
    require(dim % numSubvectors == 0, s"dim $dim not divisible by m=$numSubvectors")
    val subDim = dim / numSubvectors
    val k = 1 << numBits
    // subvector codebooks are independent -> train them in parallel
    // (rayon par_iter in the reference, pq_builder.rs; here JDK streams)
    val codebooks = new Array[Array[Array[Double]]](numSubvectors)
    java.util.stream.IntStream.range(0, numSubvectors).parallel().forEach { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      codebooks(j) = IvfBuilder.localKMeans(subs, k, seed + j, iters = 10)
    }
    Model(dim, numSubvectors, codebooks)
  }

  /** Encode a vector column to PQ codes (build-time pass; broadcast
    * codebook, one map). */
  def encodeCol(model: Model, vecCol: Column): Column = {
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(model)
    udf { (v: Seq[Double]) => bc.value.encode(v.toArray) }.apply(vecCol.cast("array<double>"))
  }

  /** Query-time ADC distance column for a codes column (codegen'd). */
  def adcDistance(model: Model, codesCol: Column, query: Seq[Double]): Column = {
    val lutLit = array(model.lut(query).map(lit): _*)
    ColumnBridge.column(PqAdcDistance(
      ColumnBridge.expression(codesCol), ColumnBridge.expression(lutLit)))
  }
}
