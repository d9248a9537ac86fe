package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.{Ann, Dedup, Pca, ProductQuantizer, Quantizer, RaBitQ}

/** Driver-visible quality gates for the queries the DuckDB oracle cannot
  * express (LSH candidate generation, ANN, PQ, connected components).
  * Each gate re-derives an exact ground truth at the verify scale factor
  * and reports a measured metric plus pass/fail, dumped as
  * `quality_gates.json` next to the query parquet — so the correctness
  * artifact records what the spec suite actually guarantees instead of
  * rows-only.
  *
  * Gates mirror the configs of the corresponding `SparkEntry.queries`
  * entries; "high band" = the similarity region the operator is designed
  * to guarantee (LSH banding probabilities are near 1 there).
  */
object QualityGates {

  private def jb(b: Boolean) = if (b) "true" else "false"
  private def jd(d: Double) = if (d.isNaN) "null" else f"$d%.4f"

  def run(spark: SparkSession, sfDir: String): String = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = scala.collection.mutable.ListBuffer.empty[String]

    // q28: blocked simhash LSH must find EVERY pair within the radius —
    // exact ground truth from a driver-side pair scan over the sketches
    {
      val sk = docs.select(col("doc_id").as("id"), simhash(tokenize(col("text"))).as("sk"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val exact = (for {
        i <- sk.indices.iterator
        j <- (i + 1) until sk.length
        h = java.lang.Long.bitCount(sk(i)._2 ^ sk(j)._2)
        if h <= 10
      } yield (math.min(sk(i)._1, sk(j)._1), math.max(sk(i)._1, sk(j)._1))).toSet
      val got = Dedup.simhashPairs(docs, maxHamming = 10)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (exact.isEmpty) Double.NaN else
        exact.intersect(got).size.toDouble / exact.size
      val pass = got == exact // guaranteed-recall construction: exact match
      out += s""""q28_simhash":{"exact_pairs":${exact.size},"lsh_pairs":${got.size},"recall":${jd(recall)},"pass":${jb(pass)}}"""
    }

    // q27: minhash banding (16 bands x 4 rows) has >0.98 collision
    // probability at true J >= 0.7 — recall gate on that high band
    {
      val exactHi = Dedup.ngramJaccardPairs(docs, shingleLen = 3,
        threshold = 0.7, maxShinglePostings = 1000000)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.minhashPairs(docs, shingleLen = 3, k = 64, bands = 16,
        threshold = 0.2)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (exactHi.isEmpty) Double.NaN else
        exactHi.intersect(got).size.toDouble / exactHi.size
      val pass = exactHi.isEmpty || recall >= 0.9
      out += s""""q27_minhash":{"high_band_pairs":${exactHi.size},"recall_at_j07":${jd(recall)},"pass":${jb(pass)}}"""
    }

    // q29: embedding sign-LSH (8 planes x 8 tables) is designed for
    // near-duplicates — recall gate at cosine >= 0.95; precision is exact
    // by construction (verify step), asserted via subset at the entry's 0.4
    {
      val exactHi = Dedup.embeddingNearDupExact(emb, threshold = 0.95)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotHi = Dedup.embeddingNearDupPairs(emb, threshold = 0.95)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (exactHi.isEmpty) Double.NaN else
        exactHi.intersect(gotHi).size.toDouble / exactHi.size
      val exactLo = Dedup.embeddingNearDupExact(emb, threshold = 0.4)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotLo = Dedup.embeddingNearDupPairs(emb, threshold = 0.4)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val precise = gotLo.subsetOf(exactLo)
      val pass = (exactHi.isEmpty || recall >= 0.8) && precise
      out += s""""q29_embed_lsh":{"high_band_pairs":${exactHi.size},"recall_at_cos095":${jd(recall)},"precision_exact":${jb(precise)},"pass":${jb(pass)}}"""
    }

    // q30: IVF with nprobe = numCentroids degrades to exact — recall must
    // be 1.0 vs brute force (the RecallSpec gate, on the verify data)
    {
      val (centroids, postings) = Ann.ivfIndex(emb, numCentroids = 16)
      val queries = emb.orderBy("vec_id").limit(5)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      val recalls = queries.map { case (_, q) =>
        val oracle = Ann.bruteForceTopK(emb, q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val got = Ann.ivfTopK(emb, centroids, postings, q, 10, 16)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        oracle.intersect(got).size / 10.0
      }
      val recall = recalls.sum / recalls.length
      out += s""""q30_ivf":{"recall_at10_probe_all":${jd(recall)},"pass":${jb(recall == 1.0)}}"""
    }

    // q35: PQ ADC + exact re-rank (rerank 100) — recall@10
    // vs exact brute force (the PqSpec gate, on the verify data)
    {
      val model = ProductQuantizer.train(emb, "embedding", numSubvectors = 16,
        numBits = 6, sampleSize = 5000)
      val encoded = emb.withColumn("pq_codes",
        ProductQuantizer.encodeCol(model, col("embedding")))
      val queries = emb.orderBy("vec_id").limit(3)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      val recalls = queries.map { case (_, q) =>
        val oracle = Ann.bruteForceTopK(emb, q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val got = Quantizer.rerankTopK(encoded, Quantizer.PqCodec.estimate(model, q), q, k = 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        oracle.intersect(got).size / 10.0
      }
      val recall = recalls.sum / recalls.length
      out += s""""q35_pq":{"recall_at10_rerank100":${jd(recall)},"pass":${jb(recall >= 0.9)}}"""
    }

    // q75: PCA-reduced stage-1 (k=16 of 64 dims) + exact full-space
    // re-rank (candidates=100) — recall@10 vs exact brute force, on the
    // verify embeddings (the PcaSpec gate at the driver's data shape)
    {
      val model = Pca.train(emb, k = 16)
      val queries = emb.orderBy("vec_id").limit(5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val oracle = Ann.knnJoin(
        queries.select(col("q_id"), col("q_vec").cast("array<double>").as("q_vec")),
        emb, k = 10)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val got = Pca.reducedKnnJoin(queries, emb, model, candidates = 100, k = 10)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val recall = oracle.keys.toSeq.map(q =>
        (got.getOrElse(q, Set.empty[Long]) & oracle(q)).size.toDouble).sum /
        (oracle.size * 10.0)
      out += s""""q75_pca_rerank":{"recall_at10_cand100":${jd(recall)},"pass":${jb(recall >= 0.8)}}"""
    }

    // q81: SQ8 int8 estimator + exact re-rank (rerank 100) — recall@10
    // vs exact brute force (the SqSpec gate, on the verify data)
    {
      val model = graft.operators.ScalarQuantizer.train(emb)
      val encoded = emb.withColumn("sq_codes",
        graft.operators.ScalarQuantizer.encodeCol(model, col("embedding")))
      val queries = emb.orderBy("vec_id").limit(3)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      val recalls = queries.map { case (_, q) =>
        val oracle = Ann.bruteForceTopK(emb, q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val got = Quantizer.rerankTopK(encoded, Quantizer.Sq8Codec.estimate(model, q), q, k = 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        oracle.intersect(got).size / 10.0
      }
      val recall = recalls.sum / recalls.length
      out += s""""q81_sq8":{"recall_at10_rerank100":${jd(recall)},"pass":${jb(recall >= 0.9)}}"""
    }

    // q41: RaBitQ 1-bit estimator + exact re-rank (rerank 100) — recall@10
    // vs exact brute force (the RabitqSpec gate, on the verify data)
    {
      val model = RaBitQ.train(emb, "embedding", sampleSize = 5000)
      val encoded = emb
        .withColumn("rq", RaBitQ.encodeCols(model, col("embedding")))
        .select(col("vec_id"), col("embedding"),
          col("rq._1").as("rq_code"), col("rq._2").as("rq_f"), col("rq._3").as("rq_norm"))
      val queries = emb.orderBy("vec_id").limit(3)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
      val recalls = queries.map { case (_, q) =>
        val oracle = Ann.bruteForceTopK(emb, q, 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val got = Quantizer.rerankTopK(encoded, Quantizer.RabitqCodec.estimate(model, q), q, k = 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        oracle.intersect(got).size / 10.0
      }
      val recall = recalls.sum / recalls.length
      out += s""""q41_rabitq":{"recall_at10_rerank100":${jd(recall)},"pass":${jb(recall >= 0.9)}}"""
    }

    // q45: the driver entry runs knnGraph in exact mode (oracle-checked);
    // this gate measures the approximate-nprobe setting actually used at
    // scale — edge recall of nprobe=4 vs the probe-all exact graph
    {
      val exact = Ann.knnGraph(emb, k = 3, numCentroids = 16, nprobe = 16)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Ann.knnGraph(emb, k = 3, numCentroids = 16, nprobe = 4)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (exact.isEmpty) Double.NaN else
        exact.intersect(approx).size.toDouble / exact.size
      out += s""""q45_knn_graph":{"exact_edges":${exact.size},"recall_nprobe4":${jd(recall)},"pass":${jb(exact.isEmpty || recall >= 0.8)}}"""
    }

    // Streaming near-dup soak: state must PLATEAU under watermark
    // eviction (horizon-bounded), and every pair the horizon guarantees
    // (arrivals <= one batch step apart < horizon) must be found —
    // streaming-vs-batch recall on that in-horizon subset.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val docRows = docs.select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val nBatches = 10
      val per = math.max(1, math.ceil(docRows.length / nBatches.toDouble).toInt)
      val stepMs = 20L * 60 * 1000 // batches 20 min apart
      val base = 1700000000000L // fixed epoch so the gate is deterministic
      val batchOf = docRows.zipWithIndex
        .map { case ((id, _), i) => id -> i / per }.toMap
      val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
      val matches = graft.streaming.StreamingNearDup.simhash(
        stream.toDF().toDF("doc_id", "text", "ts"),
        maxHamming = 3, eventTimeCol = "ts", delay = "30 minutes")
      val q = matches.writeStream.outputMode("append")
        .format("memory").queryName("qg_neardup_soak").start()
      val stateTotals = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        for (b <- 0 until nBatches) {
          val slice = docRows.slice(b * per, math.min((b + 1) * per, docRows.length))
          val ts = new java.sql.Timestamp(base + b * stepMs)
          stream.addData(slice.map { case (id, t) => (id, t, ts) }.toSeq)
          q.processAllAvailable()
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty)
            stateTotals += p.stateOperators.head.numRowsTotal
        }
      } finally q.stop()
      // Plateau: with a 30-min horizon and 20-min steps, steady state
      // holds ~2-3 batches of bucket entries; without eviction it would
      // reach ~nBatches x the first batch. Gate well under that.
      val s1 = math.max(1L, stateTotals.headOption.getOrElse(0L))
      val plateau = stateTotals.nonEmpty && stateTotals.last <= 6L * s1
      // Recall: batch-operator pairs whose arrivals are <= 1 batch apart
      // (ts diff 20 min < 30-min horizon -> the stream must catch them)
      val exactNear = Dedup.simhashPairs(docs, maxHamming = 3)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => math.abs(batchOf(a) - batchOf(b)) <= 1 }.toSet
      val streamed = spark.table("qg_neardup_soak")
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (exactNear.isEmpty) Double.NaN else
        exactNear.intersect(streamed).size.toDouble / exactNear.size
      val pass = plateau && (exactNear.isEmpty || recall >= 0.9)
      out += s""""streaming_neardup_soak":{"state_first":${stateTotals.headOption.getOrElse(0L)},"state_last":${stateTotals.lastOption.getOrElse(0L)},"state_peak":${if (stateTotals.isEmpty) 0L else stateTotals.max},"plateau":${jb(plateau)},"in_horizon_pairs":${exactNear.size},"recall":${jd(recall)},"pass":${jb(pass)}}"""
      spark.sql("DROP TABLE IF EXISTS qg_neardup_soak")
    }

    // Recall-targeted search calibration (round-14 verdict #6): the
    // persisted curve's resolved nprobe must DELIVER the target on real
    // searches — calibrate on the sf embeddings, then measure actual
    // recall@10 of targetRecall=0.9 searches against exact brute truth.
    {
      val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
        .head().getInt(0)
      val base = java.nio.file.Files.createTempDirectory("graft_qgate_cal").toString
      val coll = graft.core.Collection.create(spark, base,
        graft.core.CollectionConfig(name = "cal", numFeatures = dim,
          initialNumCentroids = 32))
      coll.insert(emb.select(lit(0L).as("user_id"), col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("vector")))
      coll.flush()
      val ladder = Seq(1, 2, 4, 8, 16, 32)
      val curve = coll.calibrateRecall(k = 10, nQueries = 16, ladder = ladder)
      val target = 0.9
      val resolved = coll.nprobeFor(target)
      val monotone = curve.sliding(2).forall(w => w.last._2 >= w.head._2 - 1e-9)
      // real searches at targetRecall: same deterministic sample the
      // calibration used (first 16 by doc_id), truth by exact scan
      val snap = coll.snapshot()
      val sample = snap.liveRows.get.select("doc_id", "vector")
        .orderBy("doc_id").limit(16)
        .collect().map(r => (r.get(0), r.getSeq[Double](1)))
      val hits = sample.map { case (_, v) =>
        val got = snap.search(v, graft.operators.SearchParams(topK = 10,
          targetRecall = Some(target)))
          .select("doc_id").collect().map(_.get(0)).toSet
        val truth = snap.search(v, graft.operators.SearchParams(topK = 10,
          numExploredCentroids = Some(Int.MaxValue),
          centroidDistanceRatio = 1e18))
          .select("doc_id").collect().map(_.get(0)).toSet
        if (truth.isEmpty) 1.0 else truth.intersect(got).size.toDouble / truth.size
      }
      val measured = hits.sum / hits.length
      // the curve's top must be exhaustive (every centroid probed = exact)
      val ceiling = curve.last._2
      val pass = monotone && ceiling >= 0.999 &&
        measured >= math.min(target, curve.find(_._2 >= target)
          .map(_._2).getOrElse(ceiling)) - 0.05
      out += s""""calibrated_recall":{"resolved_nprobe":$resolved,"curve_ceiling":${jd(ceiling)},"measured_recall":${jd(measured)},"monotone":${jb(monotone)},"pass":${jb(pass)}}"""
    }

    // q40: keep-list validity — canonical labels are component minima:
    // keep_id <= id everywhere and the mapping is idempotent
    {
      val pairs = Dedup.ngramJaccardPairs(docs, shingleLen = 3,
        threshold = 0.3, maxShinglePostings = 1000000)
      val keep = Dedup.keepList(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val m = keep.toMap
      val minimal = keep.forall { case (id, k) => k <= id }
      val idem = keep.forall { case (_, k) => m.getOrElse(k, k) == k }
      out += s""""q40_keeplist":{"rows":${keep.length},"canonical_min":${jb(minimal)},"idempotent":${jb(idem)},"pass":${jb(minimal && idem)}}"""
    }

    out.mkString("{", ",", "}")
  }
}
