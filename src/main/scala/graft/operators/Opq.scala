package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.PqAdcDistance

/** Optimized Product Quantization (beyond the reference — its quantizer
  * enum stops at PQ, rs/quantization/src/pq/; this is the published
  * upgrade: Ge, He, Ke, Sun, "Optimized Product Quantization", CVPR 2013 /
  * TPAMI 2014, the non-parametric OPQ_NP solver).
  *
  * PQ's quantization error depends on how the coordinate split into
  * subvectors aligns with the data: correlated dimensions landing in
  * DIFFERENT subvectors force each codebook to model variance the others
  * already encode. OPQ learns an orthogonal rotation R jointly with the
  * codebooks, minimizing Σᵢ ‖R xᵢ − q(R xᵢ)‖² by alternating
  *
  *   1. codebook step: per-subvector k-means on the rotated sample
  *      (exactly PQ training — [[ProductQuantizer]]'s layout);
  *   2. rotation step: with reconstructions Y fixed, the best orthogonal
  *      R solves the Procrustes problem min_Ω ‖X Ω − Y‖_F (Ω = Rᵀ),
  *      Ω = U Vᵀ from the SVD of M = Xᵀ Y (Schönemann 1966).
  *
  * R is initialized to the identity, so iteration 0 trains codebooks on
  * the UNROTATED sample with PQ's own seeds — i.e. it IS plain PQ — and
  * the best (R, codebooks) pair by measured sample MSE is kept, so the
  * returned model is never worse than plain PQ on the training sample
  * (k-means restarts between iterations are not monotone, keeping the
  * argmin restores the guarantee). The SVD runs on breeze (on Spark's
  * classpath; LAPACK-backed when native BLAS is present, pure-JVM
  * fallback otherwise) over the d×d cross-covariance — driver-side,
  * sample-bounded, never distributed.
  *
  * Because R is orthogonal, L2 distances are preserved: searching rotated
  * codes with a rotated query is exactly the original-space search, so
  * the ADC kernel ([[graft.functions.PqAdcDistance]]) and the whole
  * rerank pipeline are shared with PQ unchanged — only the query-time LUT
  * is built from R·q instead of q.
  *
  * Scale posture: identical to PQ — training reads one bounded sample,
  * encode is a narrow map against a broadcast model (one extra d×d
  * mat-vec per row), query cost is unchanged.
  */
object Opq {

  /** Trained model: the orthogonal rotation (rows = output dims) over the
    * shared PQ codebook layout. Codebooks live in ROTATED space. */
  final case class Model(rotation: Array[Array[Double]], pq: ProductQuantizer.Model)
      extends Serializable {
    def dim: Int = pq.dim

    /** R·v (into the codebook space). */
    def rotate(v: Array[Double]): Array[Double] = matVec(rotation, v)

    /** Rᵀ·v (back to the input space; Rᵀ = R⁻¹ by orthogonality). */
    def unrotate(v: Array[Double]): Array[Double] = {
      val d = rotation.length
      val out = new Array[Double](d)
      var i = 0
      while (i < d) {
        val ri = rotation(i); val vi = v(i)
        var j = 0
        while (j < d) { out(j) += ri(j) * vi; j += 1 }
        i += 1
      }
      out
    }

    def encode(v: Array[Double]): Array[Byte] = pq.encode(rotate(v))
    def decode(codes: Array[Byte]): Array[Double] = unrotate(pq.decode(codes))

    /** Per-query ADC LUT — PQ's LUT of the ROTATED query. Distances in
      * rotated space equal original-space distances (R orthogonal). */
    def lut(query: Seq[Double]): Array[Double] =
      pq.lut(rotate(query.toArray).toIndexedSeq)

    /** Mean squared reconstruction error over a sample (the OPQ
      * objective; orthogonality makes rotated-space and original-space
      * errors identical). Parallel over rows — the encode scan
      * (n·m·k·subDim) dominates training time otherwise. */
    def mse(sample: Array[Array[Double]]): Double = {
      val s = java.util.stream.IntStream.range(0, sample.length).parallel()
        .mapToDouble { i =>
          val z = rotate(sample(i))
          val y = pq.decode(pq.encode(z))
          var acc = 0.0; var j = 0
          while (j < z.length) { val df = z(j) - y(j); acc += df * df; j += 1 }
          acc
        }.sum()
      s / math.max(1, sample.length)
    }
  }

  /** Train rotation + codebooks on a driver-bounded sample (same sampling
    * contract as [[ProductQuantizer.train]]).
    *
    * Two candidate tracks, argmin by measured sample MSE:
    *   - the identity rotation with PQ's own k-means seeds — literally
    *     plain PQ, so the returned model is NEVER worse than PQ on the
    *     training sample;
    *   - the paper's parametric init (OPQ_P, §4.2: PCA rotation with
    *     eigenvalue allocation balancing the per-subspace variance
    *     PRODUCT), refined by `opqIters` non-parametric alternations
    *     (codebook step / Procrustes rotation step). Identity-initialized
    *     NP alternation is a documented stall point (the PQ solution is a
    *     local minimum of the joint objective), which is why the
    *     parametric init does the exploring. */
  def train(
      vectors: DataFrame, vecCol: String, numSubvectors: Int,
      numBits: Int = 8, sampleSize: Int = 20000, opqIters: Int = 6,
      seed: Long = 42L): Model = {
    require(numBits >= 1 && numBits <= 8, "numBits in [1,8] (codes are bytes)")
    require(opqIters >= 1, "opqIters >= 1")
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
    val k = 1 << numBits

    def fit(rot: Array[Array[Double]]): Model = {
      // codebook step on the rotated sample (parallel independent
      // subvector k-means — ProductQuantizer.train's exact recipe/seeds)
      val z = rotateAll(rot, sample)
      val subDim = dim / numSubvectors
      val codebooks = new Array[Array[Array[Double]]](numSubvectors)
      java.util.stream.IntStream.range(0, numSubvectors).parallel().forEach { j =>
        val subs = z.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
        codebooks(j) = IvfBuilder.localKMeans(subs, k, seed + j, iters = 10)
      }
      Model(rot, ProductQuantizer.Model(dim, numSubvectors, codebooks))
    }

    // the PQ floor: identity rotation, PQ's seeds
    var best = fit(identity(dim))
    var bestMse = best.mse(sample)
    // the exploring track: parametric init + NP alternation
    var rot = pcaAllocInit(sample, numSubvectors)
    var it = 0
    while (it < opqIters) {
      val cand = fit(rot)
      val m = cand.mse(sample)
      if (m < bestMse) { bestMse = m; best = cand }
      it += 1
      if (it < opqIters) {
        // rotation step: reconstructions in rotated space, then
        // Procrustes over M = Xᵀ Y (original sample vs reconstructions)
        val y = reconstructAll(cand.pq, rotateAll(rot, sample))
        rot = procrustes(sample, y)
      }
    }
    best
  }

  /** OPQ_P init: rows of R are the sample-covariance eigenvectors,
    * permuted so each subvector's eigenvalue PRODUCT is balanced (greedy
    * in log space, largest eigenvalue first into the emptiest-product
    * non-full bucket) — Ge et al. §4.2's parametric solution under the
    * independence+Gaussian assumption. */
  private def pcaAllocInit(sample: Array[Array[Double]], m: Int): Array[Array[Double]] = {
    val d = sample(0).length
    val subDim = d / m
    val n = sample.length
    val mean = new Array[Double](d)
    sample.foreach { v => var j = 0; while (j < d) { mean(j) += v(j); j += 1 } }
    var j = 0
    while (j < d) { mean(j) /= n; j += 1 }
    val cov = new Array[Array[Double]](d)
    java.util.stream.IntStream.range(0, d).parallel().forEach { i =>
      val row = new Array[Double](d)
      var r = 0
      while (r < n) {
        val v = sample(r); val xi = v(i) - mean(i)
        var t = 0
        while (t < d) { row(t) += xi * (v(t) - mean(t)); t += 1 }
        r += 1
      }
      var t = 0
      while (t < d) { row(t) /= n; t += 1 }
      cov(i) = row
    }
    val es = breeze.linalg.eigSym(
      breeze.linalg.DenseMatrix.tabulate(d, d)((i, jj) => cov(i)(jj)))
    // eigenvalues ascending from breeze; walk largest-first
    val order = (0 until d).sortBy(i => -es.eigenvalues(i))
    val bucketOf = new Array[Int](d) // eigen index -> bucket
    val logProd = new Array[Double](m)
    val fill = new Array[Int](m)
    order.foreach { e =>
      var bestB = -1; var bestLp = Double.MaxValue
      var b = 0
      while (b < m) {
        if (fill(b) < subDim && logProd(b) < bestLp) { bestLp = logProd(b); bestB = b }
        b += 1
      }
      bucketOf(e) = bestB
      logProd(bestB) += math.log(math.max(es.eigenvalues(e), 1e-12))
      fill(bestB) += 1
    }
    // rows of R: bucket 0's eigenvectors first, then bucket 1's, ...
    val rows = (0 until m).flatMap(b => order.filter(e => bucketOf(e) == b))
    Array.tabulate(d, d)((i, jj) => es.eigenvectors(jj, rows(i)))
  }

  /** Encode a vector column to OPQ codes (broadcast model, one map). */
  def encodeCol(model: Model, vecCol: Column): Column = {
    val bc = org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(model)
    udf { (v: Seq[Double]) => bc.value.encode(v.toArray) }.apply(vecCol.cast("array<double>"))
  }

  /** Query-time ADC distance column (codegen'd; PQ's kernel, OPQ's LUT). */
  def adcDistance(model: Model, codesCol: Column, query: Seq[Double]): Column = {
    val lutLit = array(model.lut(query).map(lit): _*)
    ColumnBridge.column(PqAdcDistance(
      ColumnBridge.expression(codesCol), ColumnBridge.expression(lutLit)))
  }

  // ---- driver-side dense linear algebra (sample-bounded) ----

  private def identity(d: Int): Array[Array[Double]] =
    Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)

  private def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val d = m.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      val row = m(i)
      var s = 0.0; var j = 0
      while (j < row.length) { s += row(j) * v(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  private def rotateAll(r: Array[Array[Double]], xs: Array[Array[Double]]): Array[Array[Double]] = {
    val out = new Array[Array[Double]](xs.length)
    java.util.stream.IntStream.range(0, xs.length).parallel()
      .forEach(i => out(i) = matVec(r, xs(i)))
    out
  }

  private def reconstructAll(pq: ProductQuantizer.Model, zs: Array[Array[Double]]): Array[Array[Double]] = {
    val out = new Array[Array[Double]](zs.length)
    java.util.stream.IntStream.range(0, zs.length).parallel()
      .forEach(i => out(i) = pq.decode(pq.encode(zs(i))))
    out
  }

  /** Orthogonal Procrustes: returns the rotation R (so Rᵀ = Ω = U Vᵀ from
    * the SVD of M = Xᵀ Y) minimizing Σᵢ ‖R xᵢ − yᵢ‖² over orthogonal R. */
  private def procrustes(x: Array[Array[Double]], y: Array[Array[Double]]): Array[Array[Double]] = {
    val d = x(0).length
    // M = Xᵀ Y, parallel over output rows (each row i reads column i of X)
    val m = new Array[Array[Double]](d)
    java.util.stream.IntStream.range(0, d).parallel().forEach { i =>
      val row = new Array[Double](d)
      var r = 0
      while (r < x.length) {
        val xi = x(r)(i); val yr = y(r)
        var j = 0
        while (j < d) { row(j) += xi * yr(j); j += 1 }
        r += 1
      }
      m(i) = row
    }
    val bm = breeze.linalg.DenseMatrix.tabulate(d, d)((i, j) => m(i)(j))
    val s = breeze.linalg.svd(bm) // M = U diag(S) Vt
    val omega = s.leftVectors * s.rightVectors // U Vt
    // R = Ωᵀ: R[i][j] = omega(j, i)
    Array.tabulate(d, d)((i, j) => omega(j, i))
  }
}
