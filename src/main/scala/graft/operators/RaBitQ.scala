package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.RabitqSignedDot

/** RaBitQ binary quantization (SURVEY §2.8 V6; present in the reference at
  * rs/quantization/src/rabitq/ but unwired in its served config — here it
  * is a working third quantizer). One bit per (rotated) dimension plus two
  * scalars per vector, i.e. ~32x smaller than f32 at the same dim.
  *
  * Follows the published construction (Gao & Long, "RaBitQ", SIGMOD'24):
  * residual against a centroid, a seeded orthonormal rotation
  * (sign-diagonal + fast Walsh-Hadamard rounds — the standard structured
  * rotation), sign-bit codes of the rotated unit residual, and the
  * `<x̄_u, q'> / <x̄_u, o'>` inner-product estimator with the per-vector
  * factor stored at encode time. Queries rank by the estimated distance
  * (codegen kernel [[RabitqSignedDot]]) and re-rank the best candidates
  * exactly — same recall-recovery pattern as the PQ path.
  *
  * Scale posture: training reads one bounded sample (centroid = sample
  * mean); encode is a narrow map against a broadcast model; the estimator
  * is O(D) per row inside whole-stage codegen, and only codes + two
  * doubles ride the scan.
  */
object RaBitQ {

  /** Trained model: centroid + seeded rotation spec. `pad` is the
    * power-of-two transform size. */
  final case class Model(dim: Int, pad: Int, seed: Long, centroid: Array[Double])
      extends Serializable {

    private def signsFor(round: Int): Array[Double] = {
      val out = new Array[Double](pad)
      var i = 0
      while (i < pad) {
        val h = graft.functions.HashKernels.mix64(seed + round * 1000003L + i)
        out(i) = if (h >= 0) 1.0 else -1.0
        i += 1
      }
      out
    }
    @transient private lazy val rounds: Array[Array[Double]] =
      Array.tabulate(3)(signsFor)

    /** Orthonormal rotation: 3 rounds of (±1 diagonal, then normalized
      * fast Walsh-Hadamard transform). Deterministic from the seed. */
    def rotate(v: Array[Double]): Array[Double] = {
      val x = java.util.Arrays.copyOf(v, pad)
      val scale = 1.0 / math.sqrt(pad.toDouble)
      var r = 0
      while (r < 3) {
        val d = rounds(r)
        var i = 0
        while (i < pad) { x(i) *= d(i); i += 1 }
        // in-place FWHT
        var len = 1
        while (len < pad) {
          var s = 0
          while (s < pad) {
            var j = s
            while (j < s + len) {
              val a = x(j); val b = x(j + len)
              x(j) = a + b; x(j + len) = a - b
              j += 1
            }
            s += 2 * len
          }
          len <<= 1
        }
        var k = 0
        while (k < pad) { x(k) *= scale; k += 1 }
        r += 1
      }
      x
    }

    /** Encode one vector: (sign-bit code, factor `<x̄_u, o'>`, residual
      * norm). Zero residuals encode with factor 1 and norm 0 (the
      * estimator then reduces to the query norm — exact). */
    def encode(v: Array[Double]): (Array[Byte], Double, Double) = {
      val res = new Array[Double](dim)
      var i = 0
      var n2 = 0.0
      while (i < dim) {
        res(i) = v(i) - centroid(i); n2 += res(i) * res(i); i += 1
      }
      val norm = math.sqrt(n2)
      val code = new Array[Byte]((pad + 7) / 8)
      if (norm == 0.0) return (code, 1.0, 0.0)
      var j = 0
      while (j < dim) { res(j) /= norm; j += 1 }
      val rot = rotate(res)
      val invSqrtD = 1.0 / math.sqrt(pad.toDouble)
      var f = 0.0
      var k = 0
      while (k < pad) {
        if (rot(k) >= 0) {
          code(k >> 3) = (code(k >> 3) | (1 << (k & 7))).toByte
          f += rot(k) * invSqrtD
        } else f -= rot(k) * invSqrtD
        k += 1
      }
      (code, if (f == 0.0) 1.0 else f, norm)
    }

    /** Rotated unit query residual + its norm, computed once per query. */
    def prepareQuery(q: Seq[Double]): (Array[Double], Double) = {
      val res = new Array[Double](dim)
      var i = 0
      var n2 = 0.0
      while (i < dim) { res(i) = q(i) - centroid(i); n2 += res(i) * res(i); i += 1 }
      val norm = math.sqrt(n2)
      if (norm > 0) { var j = 0; while (j < dim) { res(j) /= norm; j += 1 } }
      (rotate(res), norm)
    }
  }

  /** Train from a bounded sample: centroid = sample mean. */
  def train(
      vectors: DataFrame, vecCol: String,
      sampleSize: Int = 20000, seed: Long = 42L): Model = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val n = vectors.count()
    val frac = math.min(1.0, sampleSize.toDouble * 1.2 / math.max(1L, n))
    val sample = vectors.select(col(vecCol).cast("array<double>"))
      .sample(withReplacement = false, frac, seed)
      .limit(sampleSize).as[Seq[Double]].collect().map(_.toArray)
    require(sample.nonEmpty, "empty training set")
    val dim = sample(0).length
    var pad = 1
    while (pad < dim) pad <<= 1
    val centroid = new Array[Double](dim)
    sample.foreach { v =>
      var i = 0; while (i < dim) { centroid(i) += v(i); i += 1 }
    }
    var i = 0
    while (i < dim) { centroid(i) /= sample.length; i += 1 }
    Model(dim, pad, seed, centroid)
  }

  /** Encode a vector column to (code, factor, norm) struct columns. */
  def encodeCols(model: Model, vecCol: Column): Column = {
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(model)
    udf { (v: Seq[Double]) =>
      val (code, f, norm) = bc.value.encode(v.toArray)
      (code, f, norm)
    }.apply(vecCol.cast("array<double>")).as("rq")
  }

  /** Estimated L2 distance column from the stored code/factor/norm and a
    * prepared query. `est² = ||r||² + ||qr||² - 2·||r||·||qr||·cos_est`
    * with `cos_est = <x̄_u, q'> / f`, clamped at 0. */
  def estDistance(
      model: Model, codeCol: Column, fCol: Column, normCol: Column,
      query: Seq[Double]): Column = {
    val (qrot, qnorm) = model.prepareQuery(query)
    val sdot = ColumnBridge.column(RabitqSignedDot(
      ColumnBridge.expression(codeCol),
      ColumnBridge.expression(array(qrot.map(lit): _*))))
    val cosEst = sdot / fCol
    sqrt(greatest(
      normCol * normCol + lit(qnorm * qnorm) - lit(2.0 * qnorm) * normCol * cosEst,
      lit(0.0)))
  }
}
