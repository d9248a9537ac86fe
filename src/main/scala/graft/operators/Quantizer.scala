package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CollectionConfig
import graft.functions.GraftFunctions.{l2_distance, vec}

/** The quantizer seam (SURVEY §2.8 V3-V6). The reference writes its IVF
  * probe once, generic over the quantizer: candidates are scored by the
  * quantized distance into a top-k heap
  * (rs/index/src/ivf/block_based/index.rs:396-420). Here one [[Codec]]
  * per kind says how a segment trains and stores its codes and how a
  * search estimates distance from them, and [[ranked]] is the one
  * estimate-then-rerank top-k that every quantized search runs. "noq"
  * has no codec: its search ranks on the exact distance alone. */
object Quantizer {

  /** One quantizer kind. `Model` is the per-segment model, persisted by
    * java serialization as `modelFile` beside the segment's tables.
    * `encode` is one struct column whose fields are the `codes` columns
    * a segment's vectors table carries (RaBitQ's three come out of one
    * UDF call); `estimate` reads those columns. */
  sealed abstract class Codec(val modelFile: String, val codes: Seq[String]) {
    type Model <: AnyRef
    def train(rows: DataFrame, config: CollectionConfig): Model
    def encode(model: Model, vector: Column): Column
    def estimate(model: Model, query: Seq[Double]): Column
  }

  /** PQ (V3/V4): byte codes, ranked by the codegen ADC kernel. */
  object PqCodec extends Codec("pq_model.bin", Seq("pq_codes")) {
    type Model = ProductQuantizer.Model
    def train(rows: DataFrame, c: CollectionConfig): Model = ProductQuantizer.train(
      rows, "vector", c.pqSubvectors, c.pqBits, sampleSize = c.clusteringSample)
    def encode(m: Model, vector: Column): Column =
      struct(ProductQuantizer.encodeCol(m, vector).as("pq_codes"))
    def estimate(m: Model, query: Seq[Double]): Column =
      ProductQuantizer.adcDistance(m, col("pq_codes"), query)
  }

  /** OPQ (beyond the reference): PQ codes in a learned rotation, ranked
    * by the same ADC kernel over the rotated query. */
  object OpqCodec extends Codec("opq_model.bin", Seq("opq_codes")) {
    type Model = Opq.Model
    def train(rows: DataFrame, c: CollectionConfig): Model = Opq.train(
      rows, "vector", c.pqSubvectors, c.pqBits, sampleSize = c.clusteringSample)
    def encode(m: Model, vector: Column): Column =
      struct(Opq.encodeCol(m, vector).as("opq_codes"))
    def estimate(m: Model, query: Seq[Double]): Column =
      Opq.adcDistance(m, col("opq_codes"), query)
  }

  /** SQ8: exact per-dim ranges and 1-byte codes, ranked by the
    * asymmetric L2 estimate. */
  object Sq8Codec extends Codec("sq_model.bin", Seq("sq_codes")) {
    type Model = ScalarQuantizer.Model
    def train(rows: DataFrame, c: CollectionConfig): Model =
      ScalarQuantizer.train(rows, "vector")
    def encode(m: Model, vector: Column): Column =
      struct(ScalarQuantizer.encodeCol(m, vector).as("sq_codes"))
    def estimate(m: Model, query: Seq[Double]): Column =
      ScalarQuantizer.distanceCol(m, col("sq_codes"), query)
  }

  /** RaBitQ (V6): sign-bit codes plus a per-vector factor and norm,
    * ranked by the RaBitQ estimator. */
  object RabitqCodec extends Codec("rabitq_model.bin", Seq("rq_code", "rq_f", "rq_norm")) {
    type Model = RaBitQ.Model
    def train(rows: DataFrame, c: CollectionConfig): Model =
      RaBitQ.train(rows, "vector", sampleSize = c.clusteringSample)
    def encode(m: Model, vector: Column): Column = RaBitQ.encodeCols(m, vector)
      .cast("struct<rq_code:binary,rq_f:double,rq_norm:double>")
    def estimate(m: Model, query: Seq[Double]): Column = RaBitQ.estDistance(
      m, col("rq_code"), col("rq_f"), col("rq_norm"), query)
  }

  /** The codec of each `CollectionConfig.quantizer` kind but "noq". */
  val codecs: Map[String, Codec] =
    Map("pq" -> PqCodec, "opq" -> OpqCodec, "sq8" -> Sq8Codec, "rabitq" -> RabitqCodec)

  /** Top-`k` of `rows` by `exact` into column `score`, ties by `id`.
    * With an `estimate`, rows are first ranked by it and only the best
    * `max(k, rerank)` are scored exactly — the standard recovery from
    * quantization error. Both stages plan as TakeOrderedAndProject. */
  private[operators] def ranked(rows: DataFrame, estimate: Option[Column],
      exact: Column, id: String, score: String, k: Int, rerank: Int): DataFrame =
    estimate.fold(rows)(e => rows.withColumn("est", e)
        .orderBy(col("est").asc, col(id).asc)
        .limit(math.max(k, rerank)))
      .withColumn(score, exact)
      .orderBy(col(score).asc, col(id).asc)
      .limit(k)

  /** Flat quantized top-k over an encoded `[vec_id, embedding, codes…]`
    * table: rank on `estimate` (a codec's, over the codes), re-score the
    * best `rerank` exactly against `query`. Returns `[vec_id, dist]`. */
  def rerankTopK(encoded: DataFrame, estimate: Column, query: Seq[Double],
      k: Int, rerank: Int = 100): DataFrame =
    ranked(encoded, Some(estimate), l2_distance(col("embedding"), vec(query)),
      "vec_id", "dist", k, rerank)
      .select(col("vec_id"), col("dist"))
}
