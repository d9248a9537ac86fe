package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Deduplication operators for large-scale training-data pipelines.
  * All are pure DataFrame pipelines: candidate generation is always a
  * bucket join (never an O(n^2) crossJoin), so each scales to 100 TB by
  * partitioning on the bucket key.
  */
object Dedup {

  /** Exact dedup by content hash (hash-groupBy): one row per distinct
    * normalized text, keeping the smallest id; `dup_count` = group size.
    * Whitespace/case-normalized so trivially-reformatted copies collapse. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Par.ensure(docs)
      .withColumn("content_hash", md5(concat_ws(" ", tokenize(col(textCol)))))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup — the "dedup today's crawl against the
    * existing corpus" primitive. A 100 TB corpus is never re-scanned to
    * admit a new batch: the corpus is represented by its (much smaller)
    * content-hash snapshot (`[content_hash]`, e.g. the persisted output of
    * [[exact]]), and the new batch is admitted by one hash-keyed anti-join
    * plus an in-batch [[exact]] collapse.
    *
    * Returns the surviving new docs `[content_hash, keep_id, dup_count]`
    * (dup_count counts in-batch copies only). Appending the survivors'
    * hashes to the snapshot keeps the next increment exact. Both sides
    * shuffle on the hash — co-partitioned, no skew (md5 keys). */
  def incrementalExact(
      newDocs: DataFrame,
      seenHashes: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashCol: String = "content_hash"): DataFrame =
    exact(newDocs, idCol, textCol)
      .join(seenHashes.select(col(hashCol).as("content_hash")),
        Seq("content_hash"), "left_anti")

  /** MinHash signature table `[id, sig: array<long>(k)]` — the shared
    * first stage of [[minhashPairs]], split out so callers can persist it
    * to parquet (cross-engine verification, signature reuse across runs). */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 3,
      k: Int = 64): DataFrame =
    Par.ensure(docs).select(
      col(idCol).as("id"),
      minhash_signature(shingle_hashes(tokenize(col(textCol)), shingleLen), k).as("sig"))

  /** MinHash+LSH near-duplicate pairs: shingle -> minhash signature ->
    * band keys -> bucket self-join -> signature-estimated Jaccard filter.
    * Returns `[a, b, est_jaccard]` with a < b.
    *
    * Scale: the only shuffle is the explode+groupBy on band keys; each
    * bucket is tiny for honest thresholds. `bands * rowsPerBand = k`.
    * Pair candidates are expanded in-task from each bucket's collected id
    * list ([[graft.functions.PairKernels]]) — one shuffle of (band, id)
    * rows, no self-join. */
  def minhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 8192): DataFrame =
    minhashPairsFromSigs(
      minhashSignatures(docs, idCol, textCol, shingleLen, k), k, bands, threshold, maxBucket)

  /** Pair derivation over a precomputed `[id, sig]` signature table.
    *
    * The signature frame feeds the band explode AND both re-attach joins
    * (three consumers), so it is persisted here — one
    * scan→shingle→minhash pass total instead of one per consumer (at
    * corpus scale the recompute, not the banding, is the dominant cost).
    *
    * `maxBucket` caps band-bucket size before in-task pair expansion: a
    * degenerate band key (boilerplate corpora) would otherwise emit
    * C(n,2) rows in one task — and >= 65,536 ids overflows the expansion
    * kernel outright. Pairs that ONLY collide in a dropped hot bucket are
    * sacrificed (they still surface via any other shared band); 0 = off. */
  def minhashPairsFromSigs(
      sigsIn: DataFrame,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 8192,
      checkpoint: Boolean = true): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    // `checkpoint = false` when sigsIn is already materialized (a parquet
    // table): re-reading a columnar file three times is cheaper than an
    // extra in-memory copy
    val sigs0 = sigsIn.select(col("id"), col("sig"))
    val sigs =
      if (checkpoint)
        sigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sigs0
    // Only (band, id) rides the shuffle; signatures re-attached to the
    // (much smaller) deduped candidate set afterwards.
    val banded = Gen.explodeOnce(
      sigs, Seq(col("id")), lsh_band_keys(col("sig"), bands, rows), "band")
    // Hot buckets are pruned BEFORE collect_list so a degenerate band key
    // never materializes in one aggregation buffer: hot keys are rare by
    // construction, so the over-cap key list is broadcast-size and the
    // anti-join stays map-side. The count pass re-scans only the
    // checkpointed signatures (narrow).
    val pruned =
      if (maxBucket > 0)
        banded.join(
          broadcast(banded.groupBy("band").agg(count(lit(1)).as("n"))
            .filter(col("n") > maxBucket).select("band")),
          Seq("band"), "left_anti")
      else banded
    val buckets = pruned.groupBy("band").agg(collect_list(col("id")).as("ids"))
    Gen.explodeOnce(buckets, Seq.empty, sorted_pairs(col("ids")), "p")
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicates("a", "b")
      .join(sigs.select(col("id").as("a"), col("sig").as("sig_a")), Seq("a"))
      .join(sigs.select(col("id").as("b"), col("sig").as("sig_b")), Seq("b"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("a", "b", "est_jaccard")
  }

  /** Cross-corpus MinHash near-dup: candidates between a NEW batch and a
    * SEEN corpus only (no new-new or seen-seen pairs) — the incremental
    * companion of [[minhashPairsFromSigs]] for admitting a crawl batch
    * against a standing corpus without re-banding the corpus against
    * itself.
    *
    * Both sides are precomputed `[id, sig]` tables (the seen side is the
    * persisted signature artifact a 100 TB pipeline already maintains; at
    * that scale only (band, id) rows of BOTH sides ride one band-keyed
    * join — never the signatures, which re-attach to the deduped candidate
    * set). `maxBucket` caps the SEEN side's band buckets (the side that
    * can be boilerplate-degenerate at corpus scale); the hot-band key list
    * is broadcast and anti-joined on both sides so a pruned band
    * contributes no candidates at all, mirroring the self-join variant.
    *
    * Returns `[new_id, seen_id, est_jaccard]`. */
  def minhashPairsAcrossFromSigs(
      newSigs: DataFrame,
      seenSigs: DataFrame,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 8192): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    def banded(sigs: DataFrame): DataFrame = Gen.explodeOnce(
      sigs.select(col("id"), col("sig")),
      Seq(col("id")), lsh_band_keys(col("sig"), bands, rows), "band")
    val nb = banded(newSigs)
    val sb = banded(seenSigs)
    val pruned =
      if (maxBucket > 0) {
        val hot = broadcast(sb.groupBy("band").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucket).select("band"))
        (nb.join(hot, Seq("band"), "left_anti"),
          sb.join(hot, Seq("band"), "left_anti"))
      } else (nb, sb)
    pruned._1.select(col("band"), col("id").as("new_id"))
      .join(pruned._2.select(col("band"), col("id").as("seen_id")), Seq("band"))
      .select("new_id", "seen_id")
      .dropDuplicates("new_id", "seen_id")
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_a")), Seq("new_id"))
      .join(seenSigs.select(col("id").as("seen_id"), col("sig").as("sig_b")), Seq("seen_id"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "seen_id", "est_jaccard")
  }

  /** SimHash near-dup pairs: 64-bit sketch, blocked LSH with a recall
    * guarantee derived from the radius, bucket join, exact Hamming verify.
    * Returns `[a, b, hamming]`.
    *
    * Guarantee (pigeonhole, Manku et al. WWW'07): split the 64 bits into
    * `c` blocks; flipping at most `h` bits touches at most `h` blocks, so
    * at least `c - h` blocks are identical. Keys are every combination of
    * `t` blocks with `t <= c - h`, so any pair within Hamming distance
    * `maxHamming` shares at least one exact key — recall is 1.0 by
    * construction, for ANY radius (the verify step makes precision exact).
    *
    * Scale: `t = 1` gives `h+1` tables with `64/(h+1)`-bit keys — fine for
    * small radii, but keys get unselective as `h` grows (6-bit keys at
    * h=10 ⇒ quadratic buckets). For larger radii we default to `t = 2`:
    * `C(h+2, 2)` tables keyed on ~`2*64/(h+2)` bits — ~6x the candidate
    * rows but ~64x more selective buckets, the standard precision/table
    * trade. Only (id, 2 longs) ride the band shuffle. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      blocksPerKey: Int = 0): DataFrame =
    simhashPairsFromSketches(
      Par.ensure(docs).select(col(idCol).as("id"), simhash(tokenize(col(textCol))).as("sk")),
      maxHamming, blocksPerKey)

  /** Sketch-level simhashPairs: input is `[id, sk: long]`. Split out so the
    * recall guarantee is testable on planted sketches at exact distances.
    *
    * `maxBucket` > 0 drops band keys whose bucket exceeds the cap before
    * the self-join — the hot-key guard for template-heavy corpora where
    * one shared block value would otherwise go quadratic (same trade as
    * `maxShinglePostings`: recall on pairs that ONLY collide in a hot
    * bucket is sacrificed; pairs sharing any surviving key are kept).
    * Off (0) by default, which preserves the recall-1.0 guarantee. */
  /** Blocked-LSH band keys for a 64-bit sketch column: the
    * `struct(chunk, key)` columns of the `C(c, t)` tables plus each
    * chunk's key-bit mask (a pair collides in chunk i iff
    * `(ska ^ skb) & mask(i) == 0`). Shared by the batch pair derivation
    * and [[graft.streaming.StreamingNearDup]]. */
  private[graft] def simhashBands(
      sk: Column, maxHamming: Int, blocksPerKey: Int): (Array[Column], Array[Long]) = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val t = if (blocksPerKey > 0) blocksPerKey else if (maxHamming <= 5) 1 else 2
    val c = maxHamming + t // minimal block count satisfying t <= c - maxHamming
    require(t <= c - maxHamming, s"blocksPerKey=$t needs >= ${maxHamming + t} blocks")
    val widths = Array.tabulate(c)(i => 64 / c + (if (i < 64 % c) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int) = {
      val shifted = shiftrightunsigned(sk, offsets(i))
      if (widths(i) >= 64) shifted else shifted.bitwiseAND(lit((1L << widths(i)) - 1L))
    }
    val combos = (0 until c).combinations(t).toArray
    val bandStructs = combos.zipWithIndex.map {
      case (s, si) =>
        val key = s.foldLeft(lit(0L)) { (acc, i) =>
          shiftleft(acc, widths(i)).bitwiseOR(block(i))
        }
        struct(lit(si).as("chunk"), key.as("key"))
    }
    val chunkMasks = combos.map(_.foldLeft(0L) { (m, i) =>
      val w = widths(i)
      m | (if (w >= 64) -1L else ((1L << w) - 1L) << offsets(i))
    })
    (bandStructs, chunkMasks)
  }

  def simhashPairsFromSketches(
      sketches: DataFrame,
      maxHamming: Int,
      blocksPerKey: Int = 0,
      maxBucket: Int = 0): DataFrame = {
    // chunkMasks: how the expansion kernel re-checks earlier chunks to
    // emit each pair exactly once on the unguarded path
    val (bandStructs, chunkMasks) = simhashBands(col("sk"), maxHamming, blocksPerKey)
    // sketches feed one consumer when the guard is off; with the guard on,
    // the count pass adds a second — persist only then
    val sk0 = sketches.select(col("id"), col("sk"))
    val sk =
      if (maxBucket > 0)
        sk0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sk0
    // One shuffle of (chunk, key, id, sk); each bucket's pairs are
    // expanded in-task with the exact Hamming verify fused into the
    // expansion loop ([[graft.functions.PairKernels.hammingPairs]]), so
    // false candidates never leave the task and only true pairs ride the
    // dropDuplicates exchange. Hot buckets are pruned BEFORE collect_list
    // (count pass over the checkpointed sketches + broadcast anti-join on
    // the rare over-cap keys) so a degenerate bucket bounds memory, not
    // just pair blowup.
    val banded = sk
      .select(col("id"), col("sk"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("sk"), col("b.chunk").as("chunk"), col("b.key").as("key"))
    val pruned =
      if (maxBucket > 0)
        banded.join(
          broadcast(banded.groupBy("chunk", "key").agg(count(lit(1)).as("n"))
            .filter(col("n") > maxBucket).select("chunk", "key")),
          Seq("chunk", "key"), "left_anti")
      else banded
    val buckets = pruned
      .groupBy("chunk", "key")
      .agg(collect_list(struct(col("id"), col("sk"))).as("entries"))
    // Unguarded path: emit-once — the kernel re-checks earlier chunks'
    // key bits and emits each pair from its first colliding chunk only,
    // so no dedup exchange rides the (large) pair output. With the
    // hot-bucket guard on, an earlier chunk's bucket may have been
    // pruned without emitting, so every colliding chunk emits and
    // dropDuplicates reconciles.
    if (maxBucket > 0)
      Gen.explodeOnce(buckets, Seq.empty,
        hamming_pairs(col("entries"), col("chunk"), maxHamming), "p")
        .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
        .dropDuplicates("a", "b")
    else
      Gen.explodeOnce(buckets, Seq.empty,
        hamming_pairs(col("entries"), col("chunk"), maxHamming, chunkMasks), "p")
        .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
  }

  /** Exact n-gram Jaccard pairs: candidates share at least one shingle
    * (inverted-index join on rare shingles), then exact Jaccard over the
    * distinct shingle sets. Returns `[a, b, jaccard]`.
    *
    * `maxShinglePostings` drops ubiquitous shingles from candidate
    * generation (they only add candidates, never change the verdict of the
    * exact verify) — the standard scale guard against hot keys. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 3,
      threshold: Double = 0.5,
      maxShinglePostings: Int = 1000): DataFrame = {
    val sets = Par.ensure(docs).select(
      col(idCol).as("id"),
      array_distinct(shingle_hashes(tokenize(col(textCol)), shingleLen)).as("shingles"))
    val posting = Gen.explodeOnce(sets, Seq(col("id")), col("shingles"), "sh")
    // |A ∩ B| falls straight out of the posting lists as a pair count — no
    // need to ship the shingle arrays through the shuffle; with set sizes
    // joined in afterwards, J = c / (|A| + |B| - c) exactly. One shuffle
    // groups postings by shingle; pairs expand in-task from each list
    // ([[graft.functions.PairKernels]]), and the hot-shingle guard is a
    // free size filter on the collected list (dropped shingles shrink the
    // computed overlap, never grow it — the guard trades recall on
    // pathological hot keys).
    val coCounts = Gen.explodeOnce(
      posting
        .groupBy("sh").agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) <= maxShinglePostings),
      Seq.empty, sorted_pairs(col("ids")), "p")
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val sizes = sets.select(col("id"), size(col("shingles")).as("n"))
    coCounts
      .join(sizes.select(col("id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Embedding near-duplicate pairs by cosine similarity.
    *
    * Candidate generation: sign-bit LSH — project each embedding onto
    * `nPlanes` seeded pseudo-random hyperplanes (deterministic hash-mixed
    * coefficients), bucket on the sign bitmask; near-identical vectors
    * collide. `multiprobe` additionally buckets each vector under the
    * masks with its least-confident sign bits flipped (Lv et al.,
    * VLDB'07), recovering near-threshold pairs that straddle a
    * hyperplane. Verify with exact cosine — precision is exact; the
    * knobs trade recall against candidate volume. Brute-force variant
    * below is the oracle. Returns `[a, b, cosine]`. */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      nPlanes: Int = 8,
      nTables: Int = 8,
      multiprobe: Int = 2,
      maxBucket: Int = 8192,
      seed: Long = 42L): DataFrame = {
    // vecs feed the sketch explode AND both re-attach joins — persist
    // so the corpus is scanned once, not once per consumer (the q27-style
    // recompute fix; at 100 TB this is the difference between 1 and 3
    // full passes).
    val vecs = Par.ensure(embeddings)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairsFromBuckets(bucketsOf(vecs, nPlanes, nTables, multiprobe, seed),
      vecs, threshold, maxBucket)
  }

  /** The sign-bit LSH bucketing stage of [[embeddingNearDupPairs]],
    * exposed so the bucket table can persist as a cross-engine artifact
    * (the q27 signature pattern): a DuckDB oracle replays the hot-bucket
    * prune + candidate self-join + exact-cosine verify over this exact
    * parquet, flipping q29 from rows-only to hash-checked. Returns
    * `[id, bucket]` — multi-row per id: nTables x (1 + multiprobe). */
  def hyperplaneBuckets(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nPlanes: Int = 8,
      nTables: Int = 8,
      multiprobe: Int = 2,
      seed: Long = 42L): DataFrame =
    bucketsOf(
      Par.ensure(embeddings)
        .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
      nPlanes, nTables, multiprobe, seed)

  /** Pair derivation over a (re-read) `[id, bucket]` table: prune hot
    * buckets, self-join within buckets, verify with exact cosine against
    * the embeddings table. Identical output to [[embeddingNearDupPairs]]
    * with the same knobs. */
  def embeddingNearDupPairsFromBuckets(
      bucketed: DataFrame,
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      maxBucket: Int = 8192): DataFrame = {
    val vecs = embeddings
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairsFromBuckets(bucketed, vecs, threshold, maxBucket)
  }

  /** Sign-bit sketches for already-narrowed `[id, v]` rows. */
  private def bucketsOf(
      vecs: DataFrame, nPlanes: Int, nTables: Int,
      multiprobe: Int, seed: Long): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dim = vecs.select(size(col("v"))).as[Int].head()
    // nTables independent sign-bit sketches of nPlanes each; a pair is a
    // candidate if it collides in ANY table (standard multi-table LSH
    // recall amplification: p_collide = 1-(1-c^planes)^tables).
    // The plane matrix is flattened into a codegen Expression (same
    // pattern as NearestCentroids) — no per-row boxing, and the sketch
    // runs inside whole-stage codegen.
    val flatPlanes = new Array[Double](nTables * nPlanes * dim)
    var w = 0
    for (t <- 0 until nTables; p <- 0 until nPlanes; d <- 0 until dim) {
      val h = graft.functions.HashKernels.mix64(seed + (t * 8209L + p) * 131071L + d)
      flatPlanes(w) = h.toDouble / Long.MaxValue.toDouble
      w += 1
    }
    // Only (bucket, id) rides the band-join shuffle; the wide vectors are
    // joined back onto the (much smaller) deduped candidate set, exactly
    // as minhashPairs re-attaches signatures.
    // multiprobe flips the least-confident sign bits, so near-threshold
    // pairs collide without extra tables (recall up, candidates ~(1+p)x)
    Gen.explodeOnce(vecs, Seq(col("id")),
      hyperplane_sketch(col("v"), flatPlanes, nTables, nPlanes, dim, multiprobe), "bucket")
  }

  private def pairsFromBuckets(
      bucketed: DataFrame, vecs: DataFrame,
      threshold: Double, maxBucket: Int): DataFrame = {
    // same hot-bucket guard as minhashPairsFromSigs: prune rare over-cap
    // buckets before collect_list via broadcast anti-join
    val pruned =
      if (maxBucket > 0)
        bucketed.join(
          broadcast(bucketed.groupBy("bucket").agg(count(lit(1)).as("n"))
            .filter(col("n") > maxBucket).select("bucket")),
          Seq("bucket"), "left_anti")
      else bucketed
    Gen.explodeOnce(
      pruned.groupBy("bucket").agg(collect_list(col("id")).as("ids")),
      Seq.empty, sorted_pairs(col("ids")), "p")
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicates("a", "b")
      .join(vecs.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn("cosine", cosine_similarity(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Collapse a near-duplicate pair graph `[a, b]` into duplicate groups
    * via distributed connected components — the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's larger neighbors (large-star) then its smaller
    * neighbors (small-star) to the neighborhood minimum, converging to
    * per-component stars in O(log^2 n) rounds even on path graphs —
    * unlike one-hop min-label propagation, whose round count grows with
    * the graph diameter. Every round `localCheckpoint`s the edge set so
    * lineage stays flat regardless of iteration count, and frees the
    * previous round's checkpoint once the new one has materialized, so at
    * most two rounds' edges are held at any time (one after the return).
    *
    * Returns `[id, keep_id]` for every id that appears in a pair, with
    * keep_id = the smallest id of its component: drop rows where
    * id != keep_id for a canonical dedup.
    *
    * Near-dup pair graphs are usually TINY relative to the corpus (the
    * near-dup subset), so edge sets at or below `localEdgeLimit` take a
    * bounded-collect fast path: one job materializes the edges, and a
    * driver-side union-find labels them in O(E α(E)) — no per-round job
    * overhead. Larger graphs run the distributed star rounds unchanged;
    * both paths produce the identical component-minimum labeling. */
  def keepList(
      pairs: DataFrame,
      maxIters: Int = 50,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    val init = pairs.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
    if (localEdgeLimit > 0) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // self-loops stay in: they register the node (it appears in the
      // output mapped to itself) without merging anything — same node
      // universe as the distributed path's `nodes` union
      val dedupEdges = init.distinct().persist()
      val ecount = dedupEdges.count()
      if (ecount <= localEdgeLimit) {
        val edges = dedupEdges.as[(Long, Long)].collect()
        dedupEdges.unpersist(blocking = false)
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var cur = x // path compression
          while (cur != r) { val nxt = parent.get(cur); parent.put(cur, r); cur = nxt }
          r
        }
        edges.foreach { case (u, v) =>
          parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv) }
        }
        val out = parent.keySet().iterator()
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        while (out.hasNext) { val id = out.next(); rows += ((id, find(id))) }
        return rows.toSeq.toDF("id", "keep_id")
      }
      // too big for the driver: fall through to the distributed rounds,
      // reusing the materialized edge set
      val res = keepListDistributed(dedupEdges, maxIters)
      dedupEdges.unpersist(blocking = false)
      return res
    }
    keepListDistributed(init, maxIters)
  }

  /** Like [[keepList]], but each duplicate group keeps its
    * HIGHEST-`score` member (ties -> smallest id) instead of its
    * smallest id — the quality-aware canonical selection used when
    * collapsing near-duplicates in a training corpus (keep the best
    * copy, not an arbitrary one). `scores` = `[id, score]`; ids absent
    * from `scores` rank below every scored member. Returns
    * `[id, keep_id]` over the same id universe as [[keepList]].
    *
    * Scale: component labeling is [[keepList]] unchanged; the argmax is
    * one groupBy over the component table (near-dup subset sized, far
    * smaller than the corpus) plus a component-keyed join back. Rank on
    * pre-rounded scores if replaying cross-engine (same ulp argument as
    * the TF-IDF ranking). */
  def keepBest(
      pairs: DataFrame,
      scores: DataFrame,
      maxIters: Int = 50,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    val comp = keepList(pairs, maxIters, localEdgeLimit)
    val sc = scores.select(col("id").cast("long").as("id"), col("score").cast("double").as("score"))
    val labeled = comp.join(sc, Seq("id"), "left")
      .select(col("id"), col("keep_id").as("comp"),
        coalesce(col("score"), lit(Double.NegativeInfinity)).as("s"))
    // argmax by (score desc, id asc): max of (s, -id) then negate back
    val best = labeled
      .groupBy("comp")
      .agg(max(struct(col("s"), (-col("id")).as("nid"))).as("m"))
      .select(col("comp"), (-col("m.nid")).cast("long").as("best_id"))
    labeled.join(best, Seq("comp"))
      .select(col("id"), col("best_id").as("keep_id"))
  }

  /** Leakage-safe train/test split: a near-dup PAIR must never straddle
    * the split (a test doc with a train-side near-copy leaks the answer
    * into training — the decontamination failure mode, at split time).
    * Assignment is by connected COMPONENT, not by doc: every id maps to
    * its component representative ([[keepList]]; singletons are their
    * own), and the split is a deterministic hash of the representative —
    * md5 of its decimal string, first 4 hex digits mod 1000 vs
    * `testPermille` — so any engine reproduces the exact split and both
    * sides of any near-dup pair land together by construction.
    *
    * Scale: component labeling is [[keepList]] (near-dup-subset sized),
    * one id-keyed left join back to the corpus, then a map-only hash —
    * the corpus is never shuffled beyond that join. Returns
    * `[<id>, rep, split]`. The permille granularity is exact in
    * expectation only (4 hex digits = 65536 buckets folded mod 1000). */
  def leakageSafeSplit(
      ids: DataFrame,
      pairs: DataFrame,
      testPermille: Int = 200,
      idCol: String = "id",
      maxIters: Int = 50,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    require(testPermille >= 0 && testPermille <= 1000, s"testPermille=$testPermille")
    val reps = keepList(pairs, maxIters, localEdgeLimit)
      .withColumnRenamed("keep_id", "rep")
    ids.select(col(idCol).cast("long").as("id"))
      .join(reps, Seq("id"), "left")
      .withColumn("rep", coalesce(col("rep"), col("id")))
      .withColumn("bucket",
        conv(substring(md5(col("rep").cast("string")), 1, 4), 16, 10).cast("long") % 1000)
      .withColumn("split",
        when(col("bucket") < testPermille, lit("test")).otherwise(lit("train")))
      .select(col("id").as(idCol), col("rep"), col("split"))
  }

  private def keepListDistributed(init: DataFrame, maxIters: Int): DataFrame = {
    val nodes = init.select(col("u").as("id")).union(init.select(col("v").as("id"))).distinct()
    // canonical child->parent orientation: (larger, smaller), no self-loops
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    def neighborMins(e: DataFrame): (DataFrame, DataFrame) = {
      val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbr.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      (nbr, mins)
    }
    // Dataset.unpersist does not reach a checkpoint's blocks (they belong
    // to the RDD under the plan, not to a cache entry), so free that RDD
    def dropCheckpoint(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
    var edges = canon(init).localCheckpoint()
    var prev: (Long, Option[Long]) = (-1L, None)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // large-star: connect larger neighbors of u to min(Γ(u) ∪ {u})
      val (nbrL, minsL) = neighborMins(edges)
      val afterLarge = canon(
        nbrL.join(minsL, Seq("u")).where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v")))
      // small-star: connect smaller neighbors (and u itself) to the min
      val (nbrS, minsS) = neighborMins(afterLarge)
      val next = canon(
        nbrS.join(minsS, Seq("u")).where(col("v") < col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(minsS.select(col("u"), col("m").as("v"))))
        .localCheckpoint()
      // the eager checkpoint has materialized `next` with its lineage cut:
      // nothing reads the previous round's edges any more
      dropCheckpoint(edges)
      edges = next
      // convergence = edge set unchanged (count + order-free xor of hashes;
      // xor never overflows under ANSI and distinct edges can't cancel)
      val row = edges.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      val sig = (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getLong(1)))
      converged = sig == prev
      prev = sig
      iter += 1
    }
    // converged edges are stars (child -> component min); centers map to self
    val mapping = edges.select(col("u").as("id"), col("v").as("keep_id"))
      .groupBy("id").agg(min(col("keep_id")).as("keep_id"))
    val out = nodes.join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("keep_id"), col("id")).as("keep_id"))
      .persist()
    out.count()
    // the last round's checkpoint stays: `out` recomputes from it if its
    // cache is dropped, and the context cleaner frees it with `out`
    out
  }

  /** Exact substring-duplication spans (Lee et al., ACL'22 "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * setting): any `windowLen`-token window whose rolling hash occurs
    * more than once in the corpus is duplicated text; the canonical
    * occurrence (lexicographically smallest (doc, pos)) is kept, every
    * other occurrence is flagged, and per doc the flagged windows merge
    * into maximal spans. Returns one row per input doc:
    * `[id, total_tokens, dup_windows, n_spans, dup_tokens]` — zeros for
    * clean docs. `dup_tokens` is the union size of the flagged
    * [pos, pos+L) intervals, i.e. how many tokens a keep-one-copy pass
    * would cut.
    *
    * Scale: the reference algorithm is a corpus suffix array; the Spark
    * form is two linear shuffles of (window, id, pos) — a groupBy on the
    * hash for occurrence counts + canonical picks, and a join back to
    * flag occurrences. No quadratic path: a window repeated k times
    * costs k joined rows (linear), so no hot-key cap is needed. The
    * span merge is a per-doc lag window — partitioned by doc, skew-free.
    * Window hashes are 64-bit rolling polynomials (O(T)/doc, exactly
    * HUGEINT-replayable in SQL — the q51 oracle); collisions conflate
    * windows at ~2^-64 and only ever over-flag. */
  def substringDupSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      windowLen: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (base, flagged) =
      substringFlagged(docs, idCol, textCol, windowLen, keepTokens = false)
    // interval-union of [pos, pos+L): each window adds min(L, gap to its
    // predecessor); a gap > L starts a new span
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val spans = flagged
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("add",
        when(col("prev").isNull, lit(windowLen.toLong))
          .otherwise(least(lit(windowLen.toLong), col("pos") - col("prev"))))
      .withColumn("newspan",
        when(col("prev").isNull || col("pos") - col("prev") > windowLen, 1L).otherwise(0L))
      .groupBy("id")
      .agg(count(lit(1)).as("dup_windows"), sum(col("newspan")).as("n_spans"),
        sum(col("add")).as("dup_tokens"))
    base.select("id", "total_tokens").join(spans, Seq("id"), "left")
      .select(col("id"), col("total_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** The keep-one-copy cut itself: tokens inside any flagged span are
    * removed and the survivors are re-joined —
    * `[id, total_tokens, kept_tokens, cleaned_text]`. The canonical
    * occurrence of every repeated window survives, so no content is lost
    * from the corpus, only repetition (Lee et al. ACL'22 §4.1). The cut
    * is a native higher-order-function chain over the doc's own span
    * list (never wider than the doc), joined in broadcast-style from the
    * merged-span table — map-shaped after the span derivation. */
  def substringDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      windowLen: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (base, flagged) = substringFlagged(docs, idCol, textCol, windowLen)
    val byDoc = Window.partitionBy("id").orderBy("pos")
    // span group id = running count of gap-breaks, then [min, max+L) per group
    val spans = flagged
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > windowLen, 1L).otherwise(0L))
      .withColumn("sg", sum(col("brk")).over(byDoc))
      .groupBy("id", "sg")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + windowLen).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    base.select("id", "total_tokens", "tk").join(spans, Seq("id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("tk")).otherwise(
          filter(
            transform(col("tk"), (t, i) =>
              when(exists(col("spans"), sp => i >= sp("s") && i < sp("e")), lit(null))
                .otherwise(t)),
            t => t.isNotNull)))
      .select(col("id"), col("total_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  /** Shared first stages of [[substringDupSpans]]/[[substringDedup]]:
    * the persisted (id, tk, total_tokens, window-hash) table and the
    * flagged non-canonical occurrences `[id, pos]`. */
  private def substringFlagged(
      docs: DataFrame, idCol: String, textCol: String, windowLen: Int,
      keepTokens: Boolean = true): (DataFrame, DataFrame) = {
    // The persisted frame carries ONLY what its consumers read back:
    // the spans variant re-reads (id, total_tokens) — 16 bytes/doc — and
    // the cut variant additionally the token arrays. The window structs
    // are NEVER persisted: they stream straight into the explode (the
    // round-16 5M-doc run filled the sandbox disk caching tk + ~16 B per
    // window per doc on top of the two h-keyed shuffles; tokenizing the
    // text a second time for the window table is a cheap map by
    // comparison). At 100 TB the same rule: cache slim projections,
    // recompute wide map-only derivations.
    val toks = Par.ensure(docs)
      .select(col(idCol).as("id"), tokenize(col(textCol)).as("tk"))
    val baseCols = Seq(col("id")) ++ (if (keepTokens) Seq(col("tk")) else Nil) ++
      Seq(size(col("tk")).cast("long").as("total_tokens"))
    val base = toks.select(baseCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wins = Gen.explodeOnce(
      toks.select(col("id"), window_hashes(col("tk"), windowLen).as("ws")),
      Seq(col("id")), col("ws"), "w")
      .select(col("id"), col("w.pos").as("pos"), col("w.h").as("h"))
    val dupAgg = wins.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(struct(col("id"), col("pos"))).as("cano"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("cano.id").as("cano_id"), col("cano.pos").as("cano_pos"))
    val flagged = wins.join(dupAgg, Seq("h"))
      .filter(!(col("id") === col("cano_id") && col("pos") === col("cano_pos")))
      .select("id", "pos")
    (base, flagged)
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic near-duplicate
    * pairs by clustering embeddings and comparing only within clusters —
    * k-means (seeded, bounded-sample training) assigns every vector to
    * ONE cluster, then a centroid-keyed self-join emits within-cluster
    * pairs with cosine >= threshold. Returns `[a, b, cosine]`, a < b.
    *
    * Scale: the self-join shuffles on centroid_id, so clusters process in
    * parallel and candidate volume is Σ C(|cluster|,2) — bounded by the
    * builder's recursive size caps, never corpus-quadratic. Pairs whose
    * members land in different clusters are sacrificed (the paper's
    * trade); single assignment means each pair appears at most once, so
    * no dedup exchange. */
  def semanticDedupPairs(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      numCentroids: Int = 64,
      threshold: Double = 0.95,
      seed: Long = 42L): DataFrame = {
    val (_, postings) = Ann.ivfIndex(embeddings, numCentroids,
      idCol = idCol, vecCol = vecCol, maxClustersPerVector = 1, seed = seed)
    semanticDedupPairsFromAssign(postings, embeddings, idCol, vecCol, threshold)
  }

  /** Pair derivation over a precomputed `[centroid_id, point_id]`
    * assignment — split out so the assignment can be persisted to parquet
    * and the within-cluster comparison replayed by another engine. */
  def semanticDedupPairsFromAssign(
      assign: DataFrame,
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95): DataFrame = {
    val vecs = Par.ensure(embeddings)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val asg = assign.select(col("centroid_id"), col("point_id"))
    val left = asg.select(col("centroid_id"), col("point_id").as("a"))
      .join(vecs.select(col("id").as("a"), col("v").as("va")), Seq("a"))
    val right = asg.select(col("centroid_id"), col("point_id").as("b"))
      .join(vecs.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
    left.join(right, Seq("centroid_id"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", cosine_similarity(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** C4-style global line-level dedup (Raffel et al. JMLR'20 §2.2: "we
    * discarded all but one of any three-sentence span occurring more
    * than once", here at line granularity like the public c4 pipeline's
    * `remove_duplicate_text`): split every document on `sep`, keep ONE
    * occurrence of each distinct line corpus-wide — the first in
    * (id asc, line-index asc) order — drop every other occurrence, and
    * rebuild each document from its surviving lines in original order.
    *
    * Returns `[<idCol>, clean_text, n_lines, n_kept]`; a document whose
    * every line lost the race keeps an empty `clean_text` (callers
    * typically drop `n_kept = 0` rows).
    *
    * Scale: one posexplode (linear), one hash aggregation on the line
    * for the corpus-wide keeper (partial min-struct combiner — a
    * corpus-hot boilerplate line partial-aggregates map-side instead of
    * flooding one reducer), one shuffle join back on the line (fans out
    * only to that line's own occurrences), one per-doc rebuild. All
    * linear shuffles keyed by line hash then by id — no all-pairs path,
    * no driver state. */
  def lineDedupGlobal(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    val base = Par.ensure(docs)
      .select(col(idCol).as("id"),
        split(col(textCol), java.util.regex.Pattern.quote(sep)).as("ls"))
    val lines = base.select(col("id"), posexplode(col("ls")).as(Seq("idx", "line")))
    val keeper = lines.groupBy("line")
      .agg(min(struct(col("id"), col("idx"))).as("k"))
    val kept = lines.join(keeper, Seq("line"))
      .filter(col("id") === col("k.id") && col("idx") === col("k.idx"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("idx"), col("line")))).as("sl"))
      .select(col("id"),
        array_join(transform(col("sl"), x => x.getField("line")), sep).as("clean_text"),
        size(col("sl")).cast("long").as("n_kept"))
    base.select(col("id"), size(col("ls")).cast("long").as("n_lines"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact (brute-force) cosine pair scan — O(n^2), oracle for the LSH
    * variant; only for tests/small inputs. */
  def embeddingNearDupExact(
      embeddings: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95): DataFrame = {
    // the quadratic scan is the stream side of a nested-loop join: spread
    // it across the cluster even when the input is one parquet split
    val base = Par.ensure(embeddings)
    val v = base.select(col(idCol).as("a"), col(vecCol).cast("array<double>").as("va"))
    val w = base.select(col(idCol).as("b"), col(vecCol).cast("array<double>").as("vb"))
    v.crossJoin(w).filter(col("a") < col("b"))
      .withColumn("cosine", cosine_similarity(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }
}
