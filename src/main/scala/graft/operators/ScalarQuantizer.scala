package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.{Sq8Encode, Sq8L2Distance}

/** Scalar (int8) quantization over an embedding column — the third
  * quantizer in the family (identity / PQ / RaBitQ / SQ8): a per-
  * dimension affine code `x_j ≈ min_j + code_j · scale_j`, 1 byte per
  * dimension (4× smaller than f32, ~12× less precise than PQ's
  * codebooks but with zero training beyond per-dim ranges and an
  * allocation-free distance loop).
  *
  * Scale shape: range fitting is ONE narrow pass with per-partition
  * (min, max) partials (≤ #partitions rows to the driver — the
  * [[Pca]] moments posture); encode and asymmetric distance are
  * codegen kernels inside whole-stage codegen; search is
  * estimate-rank → bounded exact re-rank, the PQ/RaBitQ pattern. */
object ScalarQuantizer {

  final case class Model(mins: Array[Double], maxs: Array[Double]) {
    def dim: Int = mins.length
    def scales: Array[Double] =
      mins.indices.map(j => (maxs(j) - mins(j)) / 255.0).toArray
    def invScales: Array[Double] =
      scales.map(s => if (s <= 0.0) 0.0 else 1.0 / s)
    def decode(codes: Array[Byte]): Array[Double] = {
      val sc = scales
      codes.indices.map(j => mins(j) + (codes(j) & 0xff).toDouble * sc(j)).toArray
    }
  }

  /** Exact per-dimension ranges in one narrow pass (per-partition
    * partials, driver combine). */
  def train(vecs: DataFrame, vecCol: String = "embedding"): Model = {
    val data = Par.ensure(vecs).select(col(vecCol).cast("array<double>"))
    val partials = data.queryExecution.toRdd.mapPartitions { it =>
      var mins: Array[Double] = null
      var maxs: Array[Double] = null
      it.foreach { r =>
        val x = r.getArray(0).toDoubleArray()
        if (mins == null) {
          mins = x.clone(); maxs = x.clone()
        } else {
          require(x.length == mins.length, s"ragged vector: ${x.length} != ${mins.length}")
          var j = 0
          while (j < x.length) {
            if (x(j) < mins(j)) mins(j) = x(j)
            if (x(j) > maxs(j)) maxs(j) = x(j)
            j += 1
          }
        }
      }
      if (mins == null) Iterator.empty else Iterator.single((mins, maxs))
    }.collect()
    require(partials.nonEmpty, "empty input")
    val mins = partials.head._1.clone()
    val maxs = partials.head._2.clone()
    partials.tail.foreach { case (pm, px) =>
      var j = 0
      while (j < mins.length) {
        if (pm(j) < mins(j)) mins(j) = pm(j)
        if (px(j) > maxs(j)) maxs(j) = px(j)
        j += 1
      }
    }
    Model(mins, maxs)
  }

  /** Codegen encode column: d bytes per vector. */
  def encodeCol(model: Model, vecCol: Column): Column =
    ColumnBridge.column(Sq8Encode(
      ColumnBridge.expression(vecCol.cast("array<double>")),
      model.mins, model.invScales))

  /** Codegen asymmetric L2 estimate of a codes column vs `query`. */
  def distanceCol(model: Model, codesCol: Column, query: Seq[Double]): Column = {
    val qAdj = query.toArray.zip(model.mins).map { case (q, m) => q - m }
    ColumnBridge.column(Sq8L2Distance(
      ColumnBridge.expression(codesCol), qAdj, model.scales))
  }
}
