package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructType}

import graft.functions.GraftFunctions._
import graft.operators.{Ann, DocFilter, IvfBuilder, Quantizer, Search, SearchParams}

/** Collection configuration — mirrors the served fields of the reference's
  * `CollectionConfig` (rs/config/src/collection.rs:9-152; defaults
  * :176-209). Posting-list encoding / WAL file knobs are no-ops here
  * (Parquet encodings and Structured Streaming checkpoints replace them,
  * SURVEY §2.8 V7 / §2.9 S5). */
final case class AttrField(name: String, kind: String, lang: String = "english")

final case class CollectionConfig(
    name: String,
    numFeatures: Int,
    initialNumCentroids: Int = 10,
    maxClustersPerVector: Int = 1,
    clusteringDistanceThresholdPct: Double = 0.1,
    maxPostingListSize: Long = Long.MaxValue,
    clusteringSample: Int = 20000,
    maxPendingOps: Long = 10000L,
    maxNumberOfSegments: Int = 10,
    /** >0: segment vector tables are physically partitioned into this many
      * user-hash buckets; per-user queries prune to one directory (F11 —
      * the reference opens only the named users' indexes,
      * rs/index/src/collection/snapshot.rs:69-110). */
    userBuckets: Int = 16,
    /** "noq" (identity, default), "pq", or "rabitq" — the reference's
      * quantizer enum (rs/config/src/enums.rs:4-9; rs/index_server/src/
      * collection_manager.rs:72-94; RaBitQ present there but unwired in
      * the served config — wired here). With "pq" segments carry byte
      * codes scored via ADC; with "rabitq" they carry 1-bit sign codes
      * scored via the RaBitQ estimator; with "sq8" they carry 1-byte-per-
      * dim scalar codes scored via the SQ8 asymmetric estimator; with
      * "opq" (beyond the reference: Ge et al., CVPR'13) PQ codes in a
      * learned orthogonal rotation, scored via the same ADC kernel over
      * the rotated query; all re-rank exactly. */
    quantizer: String = "noq",
    pqSubvectors: Int = 8,
    pqBits: Int = 8,
    /** Serving stage-1 centroid selector: "exact" (default scan) or
      * "hnsw" — with "hnsw" every flush/merge/vacuum also persists the
      * centroid graph (`hnsw.bin` next to the centroids parquet, the
      * reference's flush-time HNSW write, rs/index/src/hnsw/writer.rs) so
      * serving restarts load it instead of rebuilding. */
    centroidIndexType: String = "exact",
    /** >0: the flush-time posting assignment scans only the member
      * centroids of this many nearest super-groups per vector instead of
      * all k (IvfBuilder's two-level pruned assignment — ~sqrt(k)-fold
      * fewer distance evals; near-exact, agreement-gated in SearchSpec).
      * 0 (default) = exact full scan. The big-segment flush lever: the
      * assignment pass dominates build cost once k reaches the
      * thousands. */
    assignProbeGroups: Int = 0,
    attributeSchema: Seq[AttrField] = Nil) {
  require(quantizer == "noq" || Quantizer.codecs.contains(quantizer),
    s"unknown quantizer: $quantizer")
  require(centroidIndexType == "exact" || centroidIndexType == "hnsw",
    s"unknown centroidIndexType: $centroidIndexType")
  def textFields: Seq[AttrField] = attributeSchema.filter(f => f.kind == "text" || f.kind == "keyword")
  /** Numeric attribute kinds (`long` / `double`): persisted as plain
    * columns on the vectors table (no term indexing) and filterable via
    * [[graft.operators.DocFilter.Range]] — parquet min/max stats prune
    * the scan. */
  def numericFields: Seq[AttrField] = attributeSchema.filter(f => f.kind == "long" || f.kind == "double")
}

/** Directory listings with the stream CLOSED. `Files.list`/`Files.walk`
  * hold an open directory descriptor until the stream is closed — the read
  * path lists directories once per batch per read, so a long-lived driver
  * relying on GC to close them leaks descriptors. Every listing in this
  * file goes through these. */
private[core] object Fs {
  def listNames(d: java.nio.file.Path): Seq[String] = {
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toList
    finally s.close()
  }
  def listPaths(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList
    finally s.close()
  }
  def walkAll(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList
    finally s.close()
  }
}

/** Versioned table-of-contents manifest — the reference's `version_N` TOC
  * (rs/index/src/collection/mod.rs:21-33): lists live segments and the last
  * flushed ops batch. Written atomically (tmp + move); readers pin a
  * version by reading it once (snapshot isolation for free — segment data
  * is immutable Parquet).
  *
  * `maxOpsBatch` records the newest ops batch present when this version
  * was committed — the version's position in the WAL. It is what makes a
  * historical version re-readable ([[Collection.snapshotAt]]): the tail as
  * of this version is exactly the batches in `(lastFlushedBatch,
  * maxOpsBatch]`, and a tombstone belongs to the version iff its
  * `tomb_batch` watermark is `<= maxOpsBatch`. Legacy TOC files without
  * the field read as -1 (time-travel then sees the flushed segments with
  * an empty tail). */
final case class Toc(version: Long, segments: Seq[String], lastFlushedBatch: Long,
    maxOpsBatch: Long = -1L)

object Toc {
  private def tocDir(base: String) = Paths.get(base, "toc")

  def latestVersion(base: String): Option[Long] = {
    val d = tocDir(base)
    if (!Files.exists(d)) None
    else Fs.listNames(d)
      .collect { case s if s.startsWith("version_") => s.stripPrefix("version_").toLong }
      .maxOption
  }

  /** All versions still on disk, ascending (history is retained until
    * [[Collection.expireVersions]] trims it). */
  def versions(base: String): Seq[Long] = {
    val d = tocDir(base)
    if (!Files.exists(d)) Nil
    else Fs.listNames(d)
      .collect { case s if s.startsWith("version_") => s.stripPrefix("version_").toLong }
      .sorted
  }

  def read(base: String): Toc = latestVersion(base) match {
    case None => Toc(-1L, Nil, -1L)
    case Some(v) => readVersion(base, v).get
  }

  /** Read one specific on-disk version (None if expired / never existed). */
  def readVersion(base: String, v: Long): Option[Toc] = {
    val f = tocDir(base).resolve(s"version_$v")
    if (!Files.exists(f)) None
    else {
      val txt = Files.readString(f)
      // format: line1 = "lastFlushedBatch[ maxOpsBatch]", rest = segment names
      val lines = txt.split("\n").filter(_.nonEmpty)
      val header = lines.headOption.map(_.trim.split("\\s+")).getOrElse(Array.empty[String])
      Some(Toc(v, lines.drop(1).toSeq,
        header.headOption.map(_.toLong).getOrElse(-1L),
        header.lift(1).map(_.toLong).getOrElse(-1L)))
    }
  }

  /** Commit one TOC version with CREATE_NEW semantics (round-15 verdict
    * #2 — the CdcMirror lesson applied to the engine core): two
    * concurrent flush/merge/vacuum callers that both read version N
    * would both write `version_{N+1}`, and the old REPLACE_EXISTING
    * rename silently dropped the loser's segments from history. The
    * content is written to a UNIQUE tmp (two racers must never share
    * one) and published via `Files.createLink` — an atomic
    * link(2) that fails with FileAlreadyExistsException when the
    * version is already committed, surfaced as a loud single-writer
    * violation the caller must not swallow. Readers still only ever see
    * complete files (the tmp is fully written before the link). */
  def write(base: String, toc: Toc): Unit = {
    Files.createDirectories(tocDir(base))
    val tmp = tocDir(base).resolve(s".tmp_version_${toc.version}_" +
      s"${Thread.currentThread().getId}_${java.lang.Long.toHexString(System.nanoTime())}")
    Files.writeString(tmp,
      (s"${toc.lastFlushedBatch} ${toc.maxOpsBatch}" +: toc.segments).mkString("\n"))
    val target = tocDir(base).resolve(s"version_${toc.version}")
    def collision(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"TOC version ${toc.version} is already committed at $base — a " +
          "concurrent flush/merge/vacuum raced this writer (the collection " +
          "is single-writer); re-read the TOC and retry on top of the " +
          "latest version", cause)
    try Files.createLink(target, tmp)
    catch {
      case e: java.nio.file.FileAlreadyExistsException => collision(e)
      case _: UnsupportedOperationException =>
        // filesystem without hard links: atomic rename behind an
        // existence check (a narrow check-then-act residue — still
        // strictly better than the unconditional REPLACE_EXISTING)
        if (Files.exists(target)) collision(null)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}

/** A collection on disk:
  * {{{
  * <base>/<name>/
  *   toc/version_N              (manifest: lastFlushedBatch + segment names)
  *   ops/batch=K/               (WAL-ish append log of inserts, parquet)
  *   tombstones/                (user_id, doc_id pairs; F10/R6)
  *   segments/<seg>/{vectors,centroids,postings,terms}/
  * }}}
  * Id columns (user_id, doc_id) may be LongType (the 64-bit fast path) or
  * BinaryType(16) big-endian (the reference's u128 surface,
  * muopdb.proto:72-81) — the engine is id-type agnostic: joins, ordering
  * (binary sorts as unsigned u128), bucketing (xxhash64) and the delete
  * bloom (over xxhash64(doc_id)) all work on either. [[graft.api.GraftService]]
  * feeds binary ids; per-segment point ids stay dense Ints either way.
  *
  * Lifecycle mirrors the reference (§3.2): insert appends an ops batch
  * (WAL, S5/R1); flush compacts un-flushed batches into an immutable
  * segment with IVF + terms tables and bumps the TOC (S4/R4); searches
  * union indexed segments with a brute-force scan of the unflushed tail
  * (read-your-writes, R5); merge/vacuum rewrite segments (M1/M2).
  */
final class Collection(val spark: SparkSession, val path: String, val config: CollectionConfig) {

  private def opsPath = s"$path/ops"
  private def tombPath = s"$path/tombstones"
  private def batchDir(b: Long) = s"$opsPath/batch=$b"
  private def segPath(seg: String) = s"$path/segments/$seg"

  /** Delete position-claim markers on disk (ops batch dirs holding
    * `_TOMB`) — every sequenced tombstone's `tomb_batch` is one of
    * these ids while the marker lives. */
  private def tombMarkerIds(): Seq[Long] =
    allBatchIds().filter(b => Files.exists(Paths.get(batchDir(b), "_TOMB")))

  private def tombFoldPath = Paths.get(path, "tomb_marker_wm")

  /** Upper bound on every persisted SEQUENCED tombstone's WAL position:
    * max of the live delete markers and the watermark [[expireVersions]]
    * folds before truncating markers (write-before-delete, so a crash
    * leaves the bound high — conservative). None = no evidence (a legacy
    * collection whose markers expired before the fold existed); legacy
    * UNsequenced tombstones are excluded by [[recordTombInert]]'s
    * no-MaxValue certification, never by this bound. */
  private[core] def tombPositionBound: Option[Long] = {
    val folded =
      try Some(Files.readString(tombFoldPath).trim.toLong)
      catch { case _: Throwable => None }
    (tombMarkerIds() ++ folded).maxOption
  }

  /** Is every PAIR of `segs` covered by a recorded disjointness fact (in
    * either direction — the newer segment measured against the older at
    * build time)? Under pairwise disjoint + per-segment unique keys, the
    * union of the segments is itself duplicate-free, which is what
    * [[Snapshot.allRowsNewestLive]] needs to skip the newest-wins
    * machinery on a multi-flush snapshot. */
  private[core] def segmentsPairwiseDisjoint(segs: Seq[String]): Boolean =
    segs.combinations(2).forall {
      case Seq(a, b) =>
        segment(a).disjointFrom(b) || segment(b).disjointFrom(a)
      case _ => true
    }

  def toc: Toc = Toc.read(path)

  // ---- write path ----

  /** Append one insert batch: rows `[user_id: long, doc_id: long,
    * vector: array<double>, <attr columns...>]`. Returns the batch id.
    *
    * The batch is built in full in a hidden staging dir, then claims its
    * WAL position with one atomic rename to `batch=<pos>` ([[claim]]), so
    * it appears complete or not at all, and concurrent inserts and
    * deletes never share a position. A request-sized frame (its optimized
    * plan is a `LocalRelation`: the rows already sit on the driver) is
    * written by [[WalPart]] with no Spark job; any other frame goes
    * through the Spark writer. */
  def insert(rows: DataFrame): Long = {
    val staged = stagingDir()
    try {
      localRows(rows) match {
        case Some((schema, data)) => parts.write(schema, data, staged)
        case None => rows.write.mode("overwrite").parquet(staged.toString)
      }
      claim(staged)
    } catch { case e: Throwable => deleteTree(staged); throw e }
  }

  /** Write one ops batch at a caller-chosen id (overwrite). Streaming
    * ingest keys this by its epoch id so a retried epoch overwrites its
    * own output instead of appending a duplicate batch (R7 exactly-once).
    *
    * Id lanes: manual [[insert]] allocates EVEN ids; streaming ingest
    * allocates ODD ids (`base + 2*epoch`) — the lanes can never collide,
    * so an epoch overwrite can only ever replace its own prior attempt,
    * never a manually inserted batch. */
  def insertAt(batchId: Long, rows: DataFrame): Unit =
    rows.write.mode("overwrite").parquet(batchDir(batchId))

  /** The rows of a frame whose optimized plan is a `LocalRelation`, with
    * that relation's schema; None for any frame that needs a Spark job. */
  private def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some((l.schema, l.data))
      case _ => None
    }

  private lazy val parts = new WalPart(spark)

  /** A new hidden staging dir under `ops/`. Its name never starts with
    * `batch=`, so the tail, flush, the WAL clock and [[stateFingerprint]]
    * never list it, and Spark's file listing skips its dot prefix; a
    * writer that dies before its [[claim]] leaves it invisible. */
  private[graft] def stagingDir(opsDir: java.nio.file.Path = Paths.get(opsPath)): java.nio.file.Path =
    Files.createDirectories(opsDir.resolve(s".staging-${java.util.UUID.randomUUID()}"))

  /** A staged delete position marker: `_TOMB`, plus `_TOMB_DONE` when no
    * tombstone rows will follow (a backup clone's position pin). */
  private def stagedMarker(opsDir: java.nio.file.Path, done: Boolean): java.nio.file.Path = {
    val d = stagingDir(opsDir)
    Files.writeString(d.resolve("_TOMB"), "")
    if (done) Files.writeString(d.resolve("_TOMB_DONE"), "")
    d
  }

  /** Claim the next even WAL position for a fully built staging dir with
    * one atomic directory rename to `batch=<pos>`; when that name exists
    * (a concurrent insert or delete claimed it), re-read the clock and
    * retry on the next even id. rename(2) silently replaces an EMPTY
    * directory, so no writer may ever create an empty `batch=` dir: every
    * batch and marker is built in staging first. */
  private def claim(staged: java.nio.file.Path): Long = {
    var pos = nextBatchId()
    while (!renamed(staged, Paths.get(batchDir(pos)))) pos = nextBatchId()
    pos
  }

  private def renamed(from: java.nio.file.Path, to: java.nio.file.Path): Boolean =
    try { Files.move(from, to, StandardCopyOption.ATOMIC_MOVE); true }
    catch { case _: java.io.IOException if Files.exists(to) => false }

  /** All ops batch ids still on disk (ascending; history retained until
    * [[expireVersions]] truncates below every kept version's watermark). */
  private def allBatchIds(): Seq[Long] = {
    val d = Paths.get(opsPath)
    if (!Files.exists(d)) Nil
    else Fs.listNames(d)
      .collect { case s if s.startsWith("batch=") => s.stripPrefix("batch=").toLong }
      .sorted
  }

  private def maxBatchId(): Option[Long] = allBatchIds().maxOption

  /** The WAL clock: one past the highest position ever claimed. On-disk
    * batch dirs alone are NOT enough — [[expireVersions]]' truncation can
    * legally delete every fully-flushed batch dir, and a dir-derived
    * clock would then REWIND: the next delete/insert would claim a
    * position at or below every retained TOC's watermark, leaking into
    * pinned history, vanishing from every `changes()` interval (the
    * ScaleFollow round-5 divergence: a post-expiry delete's tombstone
    * landed below the diff window), and in the insert case never
    * flushing. The current TOC's committed position is the floor. */
  private def nextWalPosition(): Long = commitWalPosition(toc) + 1L

  /** The WAL position a new TOC commit records (`maxOpsBatch`): the
    * on-disk batch high-water mark, floored by the position the previous
    * TOC already committed — same rewind hazard as [[nextWalPosition]],
    * on the commit side: a flush/merge/vacuum right after an expiry
    * truncated every batch dir must not record a position BELOW its
    * predecessor's (changes() intervals and the clock floor both read
    * it). */
  private def commitWalPosition(t: Toc): Long =
    math.max(maxBatchId().getOrElse(-1L), Collection.walPosition(t))

  /** Next id in the manual (even) lane. */
  private[graft] def nextBatchId(): Long = {
    val next = nextWalPosition()
    if (next % 2 == 0) next else next + 1
  }

  /** First id in the streaming (odd) lane at or after the current max. */
  private[graft] def nextStreamingBase(): Long = {
    val next = nextWalPosition()
    if (next % 2 == 1) next else next + 1
  }

  /** Delete (user_id, doc_id) pairs -> tombstones (R6; anti-joined at read,
    * physically dropped by vacuum). The per-segment bloom short-circuit
    * (F9, rs/index/src/segment/mod.rs:34-37) only drops pairs that no
    * LIVE data may contain: a pair passes if any segment bloom may hold
    * its doc_id OR it matches the unflushed ops tail exactly — dropping a
    * tail-only delete would resurrect the doc at the next flush.
    *
    * Request-sized pairs (a `LocalRelation`) are deduplicated and tested
    * against the blooms on the driver; the pairs the blooms exclude are
    * checked against the tail with one key-restricted collect (none when
    * there is no tail or no such pair), and the tombstone part is written
    * by [[WalPart]]. Other frames run the same rule as Spark jobs. Returns
    * the claimed WAL position. */
  def delete(pairs: DataFrame): Long = {
    val t = toc
    val blooms = t.segments.flatMap(segment(_).bloom)
    val base = pairs.select("user_id", "doc_id")
    // blooms hold xxhash64(doc_id) — id-type agnostic (long or u128 binary)
    def mayContain(h: Long) = blooms.exists(_.mightContainLong(h))
    val write: Long => Unit = localRows(base) match {
      case Some((schema, data)) =>
        val Seq(uType, dType) = schema.map(_.dataType)
        val hash = new XxHash64(Seq(BoundReference(1, dType, nullable = true)))
        val byKey = data.map(r => (idKey(r.get(0, uType)), idKey(r.get(1, dType))) -> r).toMap
        val excluded =
          if (blooms.isEmpty) Map.empty[(Any, Any), InternalRow]
          else byKey.filter { case (_, r) => !mayContain(hash.eval(r).asInstanceOf[Long]) }
        val inTail: Set[(Any, Any)] = tail(t) match {
          case Some(rows) if excluded.nonEmpty =>
            rows.select("user_id", "doc_id")
              .filter(col("doc_id").isin(excluded.values.map(_.get(1, dType)).toSeq: _*))
              .collect().map(r => (idKey(r.get(0)), idKey(r.get(1)))).toSet
          case _ => Set.empty
        }
        val kept = byKey.filter { case (k, _) => !excluded.contains(k) || inTail(k) }.values
        val tombSchema = schema.add("tomb_batch", LongType, nullable = false)
        pos => if (kept.nonEmpty) {
          val staged = stagingDir()
          try {
            val part = parts.write(tombSchema,
              kept.map(r => InternalRow(r.get(0, uType), r.get(1, dType), pos)), staged)
            Files.createDirectories(Paths.get(tombPath))
            Files.move(part, Paths.get(tombPath, part.getFileName.toString),
              StandardCopyOption.ATOMIC_MOVE)
          } finally deleteTree(staged)
        }
      case None =>
        val filtered =
          if (blooms.isEmpty) base // no segments: keep everything (tail-only state)
          else {
            val bc = spark.sparkContext.broadcast(blooms)
            val fromSegments = base.filter(udf { (h: Long) => bc.value.exists(_.mightContainLong(h)) }
              .apply(xxhash64(col("doc_id"))))
            tail(t) match {
              case None => fromSegments
              case Some(rows) =>
                val inTail = base.join(
                  rows.select("user_id", "doc_id"), Seq("user_id", "doc_id"), "left_semi")
                fromSegments.union(inTail)
            }
          }
        pos => filtered.dropDuplicates("user_id", "doc_id")
          .withColumn("tomb_batch", lit(pos))
          .write.mode("append").parquet(tombPath)
    }
    // The delete claims a WAL position of its OWN — a marker batch dir in
    // the (even, batch-side) id space, holding no rows. tomb_batch = that
    // position: rows inserted in EARLIER batches are hidden, rows inserted
    // in LATER batches are not (re-insert-after-delete revives the doc,
    // matching the reference's seq_no-ordered WAL replay — every op gets
    // its own seq_no there too). The marker is what makes history
    // well-ordered: with the old `tomb_batch = maxBatchId()` watermark, a
    // delete issued just AFTER a version's commit reused the committed
    // version's position, so snapshotAt leaked it into pinned history and
    // changes() dropped it from the delta (caught by ScaleCdc). Dedup is
    // unconditional so duplicate ids in a request add no tombstone rows.
    // The marker is staged with its `_TOMB` and claimed by rename, like an
    // insert batch.
    val pos = claim(stagedMarker(Paths.get(opsPath), done = false))
    write(pos)
    // completion marker (round 17): the rows above are VISIBLE once this
    // file exists — [[recordTombInert]]'s measurement refuses to certify
    // while any at-or-below-bound delete is still between its position
    // claim and its parquet append (the claim-first order is what keeps
    // the WAL clock atomic, so in-flightness needs its own signal)
    Files.writeString(Paths.get(batchDir(pos), "_TOMB_DONE"), "")
    pos
  }

  /** An id value with content equality: binary (u128) ids compare by
    * their bytes, like Spark's join keys. */
  private def idKey(v: Any): Any = CatalystTypeConverters.convertToCatalyst(v) match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case x => x
  }

  /** The configured quantizer's codec; None for "noq". */
  private val quantizer: Option[Quantizer.Codec] = Quantizer.codecs.get(config.quantizer)

  /** A segment's quantized distance estimate for a query — its codec's
    * `estimate` over the model persisted beside its tables (java
    * serialization, `Codec.modelFile`). None for "noq" or when the model
    * file is absent; search then ranks on the exact distance alone. */
  def codec(seg: String): Option[Seq[Double] => Column] =
    quantizer.flatMap { q =>
      val p = Paths.get(segPath(seg), q.modelFile)
      if (!Files.exists(p)) None
      else {
        val ois = new java.io.ObjectInputStream(Files.newInputStream(p))
        val m = try ois.readObject().asInstanceOf[q.Model] finally ois.close()
        Some((query: Seq[Double]) => q.estimate(m, query))
      }
    }

  /** One `spark.read.parquet` relation per WAL directory — the tombstone
    * table and each `ops/batch=<b>` — reused while the directory's listing
    * (file names and sizes) is unchanged, replaced when it changes: a
    * delete appends new part files, and a streaming epoch retry overwrites
    * its batch with new ones. A fresh relation takes its schema from the
    * parts' footers, read on the driver ([[partSchema]]), so it runs no
    * schema-inference job; it falls back to inference when a footer lacks
    * the Spark schema or the parts disagree. A reused relation costs only
    * its scan. None when the directory holds no parquet part: absent, or
    * a delete's position-claim marker (`_TOMB` only), which readers must
    * skip. */
  private val walRelations = TrieMap.empty[String, (Seq[(String, Long)], DataFrame)]
  private def walRelation(dir: String): Option[DataFrame] = {
    val d = Paths.get(dir)
    val listing =
      if (!Files.exists(d)) Nil
      else Fs.listPaths(d).map(p => p.getFileName.toString ->
        (try Files.size(p) catch { case _: java.nio.file.NoSuchFileException => -1L })).sorted
    if (!listing.exists(_._1.endsWith(".parquet"))) None
    else walRelations.get(dir) match {
      case Some((seen, df)) if seen == listing => Some(df)
      case _ =>
        val schemas = listing.collect {
          case (n, size) if n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_") =>
            partSchema(d.resolve(n), size)
        }.distinct
        val reader = schemas match {
          case Seq(Some(s)) => spark.read.schema(s)
          case _ => spark.read
        }
        val df = reader.parquet(dir)
        walRelations.put(dir, (listing, df))
        Some(df)
    }
  }

  /** A WAL part's Spark schema from its footer, cached by (file name,
    * size): a part is immutable once it is renamed into its directory. */
  private val partSchemas = TrieMap.empty[(String, Long), Option[StructType]]
  private def partSchema(file: java.nio.file.Path, size: Long): Option[StructType] =
    partSchemas.getOrElseUpdate((file.getFileName.toString, size), WalPart.footerSchema(file))

  /** Tombstones normalized to carry a `tomb_batch` watermark (legacy files
    * without one hide all batches — the old unsequenced semantics). */
  def tombstones: Option[DataFrame] = walRelation(tombPath).map(df =>
    if (df.columns.contains("tomb_batch"))
      df.withColumn("tomb_batch", coalesce(col("tomb_batch"), lit(Long.MaxValue)))
    else df.withColumn("tomb_batch", lit(Long.MaxValue)))

  /** Un-flushed batch ids under this TOC — the single listing both tail()
    * and flush() work from, so "what flush read" and "what flush records
    * as flushed" can never diverge. */
  private def tailBatchIds(t: Toc): Seq[Long] = {
    val d = Paths.get(opsPath)
    if (!Files.exists(d)) Nil
    else Fs.listNames(d)
      .collect { case s if s.startsWith("batch=") => s.stripPrefix("batch=").toLong }
      .filter(_ > t.lastFlushedBatch).sorted
  }

  /** Each tail row is stamped with its source batch id (`src_batch`); the
    * column persists through flush into segment vector tables, giving every
    * row a WAL position that the sequenced tombstone anti-join
    * ([[Search.dropTombstoned]]) compares against delete watermarks.
    * Delete position-claim markers carry no rows and are skipped. */
  private def tailFrom(batches: Seq[Long]): Option[DataFrame] =
    batches.flatMap(b => walRelation(batchDir(b)).map(_.withColumn("src_batch", lit(b))))
      .reduceOption(_ unionByName _)

  /** Un-flushed ops batches (the "mutable segment" tail). */
  private def tail(t: Toc): Option[DataFrame] = tailFrom(tailBatchIds(t))

  /** Flush: build an immutable segment from all un-flushed batches
    * (point-id assignment, IVF centroids+postings, term index), then
    * atomically bump the TOC (core.rs:867-977 semantics). No-op when the
    * tail is empty.
    *
    * lastFlushedBatch is the max of the batch ids this flush actually READ
    * (one listing feeds both the segment build and the TOC record) — a
    * batch appended between two listings can therefore never be marked
    * flushed without its rows landing in the segment. */
  def flush(): Option[String] = withWriter {
    val t = toc
    val batches = tailBatchIds(t)
    tailFrom(batches) match {
      case None =>
        // Delete-only interval (tail holds only delete position markers):
        // no segment to build, but the watermark still advances so the
        // pending tombstones commit into a readable history version.
        if (batches.nonEmpty)
          Toc.write(path, Toc(t.version + 1, t.segments, batches.max,
            commitWalPosition(t)))
        None
      case Some(df) =>
        val seg = s"seg_${t.version + 1}"
        buildSegment(df, seg)
        recordDisjointness(seg, t.segments)
        recordTombInert(seg, t)
        Toc.write(path, Toc(t.version + 1, t.segments :+ seg, batches.max,
          commitWalPosition(t)))
        Some(seg)
    }
  }

  /** Measure and record cross-segment key DISJOINTNESS for a just-built,
    * not-yet-committed segment against the segments it will coexist with
    * in the next TOC (round 17: extends the measured-unique-keys fast
    * path, [[Snapshot.allRowsNewestLive]], past the single-segment shape
    * to the append-only multi-flush steady state). MEASURED, never
    * assumed: the new segment's keys are first probed against each other
    * segment's persisted doc_id bloom (no false negatives — zero bloom
    * positives proves doc-level and hence (user, doc)-key disjointness);
    * bloom positives fall through to an exact key semi-join. The fact
    * lands in `disjoint.json` beside meta.json BEFORE the TOC commit
    * (the segment is not yet visible, so the write keeps the
    * immutable-after-commit rule); an absent fact keeps readers on the
    * conservative newest-wins path. Cost is flush/merge-time only: one
    * bloom-pruned key scan of the new segment per coexisting segment. */
  private def recordDisjointness(seg: String, others: Seq[String]): Unit = {
    if (others.isEmpty) return
    val newKeys = segment(seg).vectors.select(col("user_id"), col("doc_id"))
    val disjoint = others.filter { other =>
      val candidates = segment(other).bloom match {
        case Some(bf) =>
          val bc = spark.sparkContext.broadcast(bf)
          val mayContain = udf { (h: Long) => bc.value.mightContainLong(h) }
          newKeys.filter(mayContain(xxhash64(col("doc_id"))))
        case None => newKeys
      }
      candidates.join(
        segment(other).vectors.select("user_id", "doc_id"),
        Seq("user_id", "doc_id"), "left_semi").isEmpty
    }
    Files.writeString(Paths.get(segPath(seg), "disjoint.json"),
      s"""{"disjointFrom": [${disjoint.sorted.map("\"" + _ + "\"").mkString(", ")}]}""")
  }

  /** Measure and record "the CURRENT tombstone set hides NOTHING in
    * this just-built segment" into `inert.json` (round 17 — the second
    * half of the [[Snapshot.allRowsNewestLive]] extension): tombstone
    * FILES outlive the compaction that physically applied them (older
    * TOC versions still need them), so without this fact a post-merge /
    * post-vacuum snapshot pays tombstone anti-joins and the newest-wins
    * machinery forever for deletes that no longer hide anything.
    * MEASURED, never assumed: one semi-join of the segment's keyed rows
    * against the exact [[Search.dropTombstoned]] predicate; any hidden
    * row, any legacy UNsequenced tombstone (tomb_batch = MaxValue has no
    * position bound), or any in-flight delete (position claimed, rows
    * not yet landed — no `_TOMB_DONE`) records nothing. The recorded
    * bound `W = commitWalPosition(t)` covers every tombstone that could
    * have existed at measurement: a delete claims its marker dir
    * (raising this very bound) BEFORE its rows land, and deletes claimed
    * after this op read the clock get positions above W. */
  private def recordTombInert(seg: String, t: Toc): Unit = {
    val w = commitWalPosition(t)
    val pending = tombMarkerIds().exists(b => b <= w &&
      !Files.exists(Paths.get(batchDir(b), "_TOMB_DONE")))
    if (pending) return
    val inert = tombstones match {
      case None => true
      case Some(tb) =>
        tb.filter(col("tomb_batch") === Long.MaxValue).isEmpty && {
          val rows = segment(seg).vectors.select("user_id", "doc_id", "src_batch")
          rows.join(tb.select(col("user_id").as("_t_uid"),
              col("doc_id").as("_t_did"), col("tomb_batch").as("_t_batch")),
            rows("user_id") === col("_t_uid") && rows("doc_id") === col("_t_did") &&
              rows("src_batch") <= col("_t_batch"), "left_semi").isEmpty
        }
    }
    if (inert) Files.writeString(Paths.get(segPath(seg), "inert.json"),
      s"""{"tombInertUpTo": $w}""")
  }

  /** Build the four tables of one immutable segment from raw rows. */
  private def buildSegment(rows: DataFrame, seg: String): Unit = {
    // a retry after a failed attempt reuses the name: read the new files
    segmentRecords.remove(seg)
    // Single-pass build (round 13): the segment's vectors parquet IS the
    // durable copy of this exact frame, so every downstream pass (bloom,
    // centroid sample, postings assignment, terms) reads the WRITTEN
    // table with column pruning instead of a persisted cache. The old
    // persist() held ~the corpus in unified-memory storage, which both
    // double-paid the I/O (cache write + cache reads alongside the
    // parquet write) and starved the write-stage sorters at scale (1M x
    // 768 on the 8g harness JVM dies with UNABLE_TO_ACQUIRE_MEMORY when
    // cache construction shares the stage); parquet reads are pruned to
    // the columns each pass needs, which the cache scan also couldn't
    // beat for the vector-payload passes.
    // Dense per-user point ids (rs/index/src/multi_spann/builder.rs:56-70).
    // The window partitions by (user_bucket, user_id) — identical groups
    // to user_id alone (the bucket is a pure function of the user), but
    // the window's own in-task sort is then (bucket, user, doc_id), which
    // already IS the M4 locality order and satisfies the bucketed write's
    // required ordering — the write stage carries ZERO additional sorters
    // (two fused sorters in one stage OOM'd the 1M x 768 merge under
    // concurrent readers even at 24g, round-13 soak).
    val w = Window.partitionBy("user_bucket", "user_id").orderBy("doc_id")
    var vectors = rows
      .withColumn("user_bucket", userBucket(col("user_id")))
      .withColumn("point_id", row_number().over(w))

    // Quantizer: train the per-segment model, persist it beside the
    // segment's tables, and store the codes in the vectors table
    // (operators/Quantizer.scala). Training needs only the vector column
    // — it samples `rows` directly, so the bounded training collect never
    // recomputes the point-id window.
    for (q <- quantizer) {
      val model = q.train(rows, config)
      Files.createDirectories(Paths.get(segPath(seg)))
      val oos = new java.io.ObjectOutputStream(
        Files.newOutputStream(Paths.get(segPath(seg), q.modelFile)))
      try oos.writeObject(model) finally oos.close()
      vectors = q.codes.foldLeft(vectors.withColumn("_codes", q.encode(model, col("vector"))))(
        (df, c) => df.withColumn(c, col(s"_codes.$c"))).drop("_codes")
    }
    // Full rows (attrs included) persist in the vectors table so merge /
    // vacuum can rebuild the term index without a separate attrs store.
    // Parquet-level bloom on doc_id gives row-group skipping on top of the
    // segment-level bloom below. With userBuckets > 0 the table is
    // physically partitioned by user-hash bucket: per-user searches prune
    // to one directory (F11).
    // Row count rides the write job as an observed metric — the bloom
    // sizing below must not pay a second full pass over the segment.
    val rowCountObs = org.apache.spark.sql.Observation()
    // NO repartition and NO explicit sort before this write (round 13):
    // the point-id window above already exchanged the corpus (hash by
    // (bucket, user) — whole users per task) AND sorted each task by
    // (user_bucket, user_id, doc_id), which is the M4 locality order and
    // a superset of the partitioned write's required ordering, so
    // FileFormatWriter adds no sorter. The old pre-write
    // repartition(user_bucket, user_id) was a second full-corpus shuffle
    // that didn't co-locate buckets (hash on both columns leaves every
    // output partition spanning ~all buckets — same file layout without
    // it); measured: 1M x 768 flush 252 s -> ~150 s (BASELINE.md r13).
    val w0 = vectors
      .observe(rowCountObs, count(lit(1)).as("n"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      // sized to the data: without an NDV parquet-mr allocates its 1 MiB
      // maximum per file, most of a small segment's bytes
      .option("parquet.bloom.filter.adaptive.enabled", "true")
    (if (config.userBuckets > 0) w0.partitionBy("user_bucket") else w0)
      .parquet(s"${segPath(seg)}/vectors")
    val segRows = rowCountObs.get.apply("n").asInstanceOf[Long]
    // Every later pass reads the just-written table (column-pruned). An
    // all-empty partitioned write leaves no files to infer from — keep
    // the logical frame in that degenerate case (passes produce empty
    // outputs of the right shape either way).
    if (segRows > 0) vectors = segment(seg).vectors

    // Segment-level blocked bloom over xxhash64(doc_id) (F9; fpr from config
    // mirror rs/config/src/collection.rs:146-149) for the delete
    // short-circuit. Hashing first keeps the bloom id-type agnostic:
    // doc_id may be LongType (fast path) or BinaryType(16) (u128 surface).
    val bloom = vectors.select(xxhash64(col("doc_id")).as("h"))
      .stat.bloomFilter("h", math.max(1000L, segRows), 0.01)
    val out = Files.newOutputStream(Paths.get(segPath(seg), "bloom.bin"))
    try bloom.writeTo(out) finally out.close()
    // Immutable segment metadata: the row count is known at build time,
    // so policy decisions (auto-vacuum fraction) never re-scan for it.
    // uniqueKeys is the MEASURED "no duplicate (user_id, doc_id)" fact —
    // one narrow 2-column aggregate here (build time, alongside the bloom
    // pass that already re-reads the written table) buys the snapshot
    // read paths the right to skip the whole newest-wins machinery
    // (version window + newest-key semi-join + src_batch dedups) on a
    // single-segment, tail-free, tombstone-free snapshot — the mature
    // post-compaction shape, where ranked/aggregation queries collapse to
    // dictionary-pruned scans + id joins (Snapshot.allRowsNewestLive).
    val uniqueKeys = segRows == 0L || vectors
      .groupBy("user_id", "doc_id").count()
      .filter(col("count") > 1L).isEmpty
    Files.writeString(Paths.get(segPath(seg), "meta.json"),
      s"""{"rows": $segRows, "uniqueKeys": $uniqueKeys}""")

    val params = IvfBuilder.BuildParams(
      numCentroids = config.initialNumCentroids,
      maxClustersPerVector = config.maxClustersPerVector,
      distanceThresholdPct = config.clusteringDistanceThresholdPct,
      maxPostingListSize = config.maxPostingListSize,
      sampleSize = config.clusteringSample,
      assignProbeGroups = config.assignProbeGroups)
    val centroids = IvfBuilder.buildCentroids(vectors, params)
    centroids.write.mode("overwrite").parquet(s"${segPath(seg)}/centroids")
    // Flush-time centroid-graph write (the reference's on-disk HNSW,
    // rs/index/src/hnsw/writer.rs): built once here, loaded by every
    // serving restart — ServedIvfIndex.build(hnswPath=...) reads it
    // instead of re-running the 123-257 s/1M-centroid bulk build. The
    // construction is the shared serving one, so loaded == built.
    if (config.centroidIndexType == "hnsw") {
      // streamed load, not collect (round-14 verdict #2): the hnsw index
      // type is the ≥500k-centroid regime, where a boxed-Row collect is
      // multi-GB on the driver — Serving's vector store learned this at
      // BASELINE round-2; the flush path uses the same discipline
      val (cIds, cVecs) = graft.operators.ServedIvfIndex.loadCentroidsStreamed(
        segment(seg).centroids)
      if (cIds.nonEmpty)
        graft.operators.Hnsw.save(s"${segPath(seg)}/hnsw.bin",
          graft.operators.ServedIvfIndex.buildCentroidGraph(cIds, cVecs))
    }
    val postings = IvfBuilder.buildPostings(
      vectors, segment(seg).centroids, params)
    postings
      .repartition(col("centroid_id"))
      .sortWithinPartitions("centroid_id", "point_id")
      .write.mode("overwrite").parquet(s"${segPath(seg)}/postings")

    // Term index: field:stemmedToken -> point ids + POSITIONS in the
    // analyzed token stream (S9; mutable_segment.rs:73-103 — the reference
    // stores ids only; positions are the beyond-reference column that
    // phrase/proximity filters consume, Lucene-style). Construction is
    // per-row (term_postings' higher-order functions), so this stage adds
    // no shuffle before the term-bucket repartition below; the analyzed
    // token array is materialized once per row (`_toks`) so the stemming
    // UDF runs once, not per (token × position).
    val textCols = config.textFields.filter(f => rows.columns.contains(f.name))
    val terms =
      if (textCols.isEmpty)
        vectors.select(col("user_id"), lit("").as("term"), col("point_id"),
          array().cast("array<int>").as("positions")).limit(0)
      else textCols.map { f =>
        graft.operators.Gen.explodeOnce(
          vectors.withColumn("_toks", Collection.fieldTokens(f.name, f.kind == "keyword", f.lang)),
          Seq(col("user_id"), col("point_id")),
          term_postings(f.name, col("_toks")), "tp")
          .select(col("user_id"), col("tp.term").as("term"), col("point_id"),
            col("tp.positions").as("positions"))
      }.reduce(_ unionByName _).dropDuplicates("user_id", "term", "point_id")
    // Physically partitioned by term-hash bucket (same pattern as the
    // user-bucket pruning on vectors, F11): a term lookup prunes to one
    // directory of ~1/64 of the index before the scan; row-group min/max
    // on the sorted term column prunes further within the bucket. With no
    // text fields the table is empty by construction — land it in one
    // file directly (term_bucket as a data column, which DocFilter also
    // prunes on) instead of paying the bucketed shuffle+sort for nothing.
    if (textCols.isEmpty)
      terms.withColumn("term_bucket", lit(0L)).coalesce(1)
        .write.mode("overwrite").parquet(s"${segPath(seg)}/terms")
    else terms
      .withColumn("term_bucket", pmod(xxhash64(col("term")), lit(Collection.termBuckets)))
      .repartition(col("term_bucket"), col("term"))
      .sortWithinPartitions("term_bucket", "term", "user_id", "point_id")
      .write.mode("overwrite")
      .partitionBy("term_bucket")
      .parquet(s"${segPath(seg)}/terms")

    // Per-(user, point, field) analyzed token counts — BM25's doc-length
    // norms (Lucene persists the same statistic per field at index time).
    // dl is the size of the SAME analyzed token array the term index is
    // built from, so sum(tf over a doc's terms) == dl by construction;
    // computed directly from the vectors table as a map-only pass (no
    // explode, no shuffle — the write coalesces because the table is one
    // slim row per doc per text field). Ranked search (Snapshot
    // .rankedSearch) reads this instead of re-deriving lengths from the
    // positions column per query; segments flushed before this table
    // landed fall back to that derivation (the segment record's hasLens).
    if (textCols.nonEmpty) textCols.map { f =>
      vectors.select(col("user_id"), col("point_id"), lit(f.name).as("field"),
        size(Collection.fieldTokens(f.name, f.kind == "keyword", f.lang)).cast("long").as("dl"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"${segPath(seg)}/lens")
  }

  // ---- read path ----

  // ---- snapshot pinning (read-during-expiry safety) ----
  // A live Snapshot object PINS its TOC version: expireVersions skips any
  // version some un-collected Snapshot still references, so GC can never
  // yank segment files out from under an in-flight historical read (the
  // reference's per-version refcount, rs/index/src/collection/mod.rs —
  // here the JVM reference graph IS the refcount: hold the Snapshot,
  // keep the version; drop it, and the next expiry may trim it). The
  // registry is weak (an abandoned Snapshot stops pinning after GC) and
  // in-process, matching the single-writer maintenance model. pinLock
  // makes {read TOC + register pin} atomic against {scan pins + delete
  // files}: a concurrent snapshotAt/expireVersions pair resolves to
  // either a working pinned snapshot or a clean "expired" throw — never
  // a snapshot whose files vanish mid-query.
  private val pinLock = new Object
  private val pinned =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, java.lang.ref.WeakReference[Snapshot])]

  // ---- single-writer enforcement (round-15 verdict #2) ----
  // Every TOC-writing maintenance op (flush/merge/mergeSmallest/vacuum/
  // expireVersions) runs under the collection's WRITER_LEASE — the
  // CdcMirror round-15 pattern applied to the engine core. Without it,
  // two racers that both read TOC version N would both build a segment
  // named for version N+1 (corrupting each other's parquet mid-write)
  // and both commit version_{N+1}. The lease makes the second writer
  // fail LOUDLY at acquisition; Toc.write's CREATE_NEW link is the
  // commit-point CAS backstop (a writer paused past the staleness
  // window and taken over fails at its own commit instead of silently
  // replacing the successor's). Residual risk matches CdcMirror's
  // documented honest limit: a multi-minute un-heartbeated pause could
  // still let a predecessor's buildSegment scribble on a successor's
  // same-named staging files before its commit fails.
  private def leaseStaleMs: Long =
    sys.props.get("graft.collection.leaseStaleMs").map(_.toLong)
      .getOrElse(15L * 60 * 1000)

  private def withWriter[A](body: => A): A =
    WriterLease.withLease(path, leaseStaleMs, "collection",
      "graft-collection-lease-heartbeat")(_ => body)

  private def registerPin(s: Snapshot): Snapshot = {
    pinned.add((s.toc.version, new java.lang.ref.WeakReference(s)))
    s
  }

  /** Versions currently pinned by live snapshots (cleared refs pruned). */
  private[core] def pinnedVersions: Set[Long] = {
    val out = scala.collection.mutable.Set[Long]()
    val it = pinned.iterator()
    while (it.hasNext) {
      val (v, ref) = it.next()
      if (ref.get() == null) it.remove() else out += v
    }
    out.toSet
  }

  def snapshot(): Snapshot = pinLock.synchronized {
    val t = toc
    registerPin(new Snapshot(this, t, t.segments, tail(t), tombstones))
  }

  /** TOC versions still on disk (ascending); each is readable via
    * [[snapshotAt]] until [[expireVersions]] trims history. */
  def versions: Seq[Long] = Toc.versions(path)

  /** Time-travel read: pin the collection AS OF TOC version `version`.
    *
    * Nothing in the write path deletes data — segments are immutable, TOC
    * files accumulate, ops batches and tombstones are append-only — so a
    * historical version is reconstructible from its manifest alone.
    * Logical time is the WAL position the version recorded at commit
    * (`Toc.maxOpsBatch`): the view is "replay inserts with batch id <= P
    * and deletes with watermark `tomb_batch` <= P", i.e. the version's
    * segments, the ops batches in `(lastFlushedBatch, P]` as the tail,
    * and only the tombstones that existed by P. Inserts/deletes issued
    * after the version's commit are invisible, read-your-writes at that
    * point in history is preserved, and the same lifecycle replay defines
    * the DuckDB oracle (q101).
    *
    * Legacy TOCs (no maxOpsBatch) fall back to `lastFlushedBatch`:
    * segments-only with an empty tail. Throws if `version` was expired by
    * [[expireVersions]] or never existed. */
  def snapshotAt(version: Long): Snapshot = pinLock.synchronized {
    val t = Toc.readVersion(path, version).getOrElse(
      throw new IllegalArgumentException(
        s"no TOC version $version under $path (expired or never committed); " +
          s"on-disk versions: ${versions.mkString(",")}"))
    val pos = Collection.walPosition(t)
    val histTail = tailFrom(tailBatchIds(t).filter(_ <= pos))
    // Legacy tombstones (files predating the tomb_batch watermark) are
    // normalized to Long.MaxValue = "hide every batch, unsequenced". They
    // have no WAL position, so they are visible in EVERY historical view —
    // without the explicit MaxValue case snapshotAt(latest) would diverge
    // from snapshot() on collections with pre-watermark tombstone files.
    val histTombs = tombstones.map(
      _.filter(col("tomb_batch") <= pos || col("tomb_batch") === Long.MaxValue))
    registerPin(new Snapshot(this, t, t.segments, histTail, histTombs,
      tombVisibleUpTo = Some(pos)))
  }

  /** CDC read: the exact logical row-level delta between two retained TOC
    * versions. One output row per changed (user_id, doc_id):
    *
    *  - `insert` — key visible at `toVersion` but not at `fromVersion`
    *  - `delete` — key visible at `fromVersion` but not at `toVersion`
    *  - `update` — visible at both, but the surviving row's WAL position
    *    (`src_batch`) moved: a delete + re-insert, or a duplicate-key
    *    overwrite, happened in between
    *
    * Physical maintenance produces NO rows — merge/vacuum rewrite bytes
    * but not logical visibility, so an incremental consumer (downstream
    * dedup, index refresh, feature store) can follow `changes` across
    * compactions without ever re-reading the corpus.
    *
    * Scale posture: the diff is first restricted to keys actually TOUCHED
    * in the WAL interval `(fromPos, toPos]` — the ops batches and
    * tombstones of that range, i.e. the delta, not the corpus. The two
    * version snapshots are then only probed by a key semi-join (2-3
    * column-pruned scans, bucket/bloom-prunable), and every shuffle
    * downstream of it is O(touched keys). Requires both versions to still
    * be retained (GC keeps the WAL range of any retained version —
    * [[expireVersions]] only truncates below every kept version's flush
    * watermark). */
  def changes(fromVersion: Long, toVersion: Long): DataFrame =
    changesWithPositions(fromVersion, toVersion).drop("to_batch")

  /** [[changes]] plus each surviving key's newest live WAL position at
    * `toVersion` (`to_batch`; null for deletes) — what a CDC consumer
    * feeds [[Snapshot.liveRowsForVersions]] so its payload fetch is one
    * triple semi-join instead of a re-derivation of "newest live" the
    * diff already computed. Same rows as [[changes]] otherwise. */
  def changesWithPositions(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val sFrom = snapshotAt(fromVersion)
    val sTo = snapshotAt(toVersion)
    val posFrom = Collection.walPosition(sFrom.toc)
    val posTo = Collection.walPosition(sTo.toc)
    val opsKeys = allBatchIds().filter(b => b > posFrom && b <= posTo)
      .flatMap(b => walRelation(batchDir(b))).map(_.select("user_id", "doc_id"))
    val tombKeys = tombstones.map(
      _.filter(col("tomb_batch") > posFrom && col("tomb_batch") <= posTo)
        .select("user_id", "doc_id"))
    (opsKeys ++ tombKeys).reduceOption(_ unionByName _) match {
      case None =>
        // Nothing written in the interval: delta is empty. Key types come
        // from the collection's actual data (u128 collections carry
        // BinaryType(16) ids — a hardcoded LongType schema here would
        // disagree with non-empty deltas and break downstream unions);
        // a fully empty collection falls back to the Long fast path.
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val keyTypes = sTo.liveDocs.orElse(sFrom.liveDocs)
          .map(df => (df.schema("user_id").dataType, df.schema("doc_id").dataType))
          .getOrElse((LongType, LongType))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("user_id", keyTypes._1),
            StructField("doc_id", keyTypes._2),
            StructField("change_type", StringType),
            StructField("to_batch", org.apache.spark.sql.types.LongType))))
      case Some(keys) =>
        val touched = keys.dropDuplicates("user_id", "doc_id")
        // ONE pass over the union of both versions' physical rows (round
        // 17; guide §2.4 — the two sides share most of their segment
        // set, and the old shape scanned the shared segments twice, ran
        // one key-restricted per-side aggregate each, and full_outer-
        // joined the results). Each physical row is tagged with which
        // side(s) it is visible on — segment membership is a per-segment
        // constant, tail membership a pure src_batch range test — and a
        // SINGLE per-key aggregate yields both sides' newest live WAL
        // position at once. Result-identical: per side,
        // max(src_batch) over that side's visible non-tombstoned rows is
        // exactly liveDocsFor's per-side aggregate (dropTombstoned's
        // `src <= ANY matching tomb_batch` is `src <= max(tomb_batch)`),
        // and a side with no live row aggregates to null — the
        // full_outer join's null. Pinned against the two-sided
        // composition in CdcInvarianceSpec.
        val segFrom = sFrom.segmentNames.toSet
        val segTo = sTo.segmentNames.toSet
        val lfFrom = sFrom.toc.lastFlushedBatch
        val lfTo = sTo.toc.lastFlushedBatch
        val segRows = (segFrom ++ segTo).toSeq.sorted.map { seg =>
          segment(seg).vectors.select(col("user_id"), col("doc_id"), col("src_batch"),
            lit(segFrom(seg)).as("_in_from"), lit(segTo(seg)).as("_in_to"))
        }
        // every tail batch either side reads, scanned once: a tail row's
        // src_batch IS its batch id, so side visibility is a range test
        // ((lastFlushed, pos] per side; lfFrom <= lfTo and posFrom <=
        // posTo by version order)
        val tailUnion = tailFrom(
          allBatchIds().filter(b => (b > lfFrom && b <= posFrom) ||
            (b > lfTo && b <= posTo))).map(
          _.select(col("user_id"), col("doc_id"), col("src_batch"),
            (col("src_batch") > lfFrom && col("src_batch") <= posFrom).as("_in_from"),
            (col("src_batch") > lfTo && col("src_batch") <= posTo).as("_in_to")))
        (segRows ++ tailUnion).reduceOption(_ unionByName _) match {
          case None =>
            // touched keys but no physical rows anywhere (delete markers
            // on an empty collection): every touch is a no-op
            touched
              .withColumn("from_batch", lit(null).cast("long"))
              .withColumn("to_batch", lit(null).cast("long"))
              .withColumn("change_type", lit(null).cast("string"))
              .filter(col("change_type").isNotNull)
              .select("user_id", "doc_id", "change_type", "to_batch")
          case Some(rows0) =>
            val rows = rows0.join(touched, Seq("user_id", "doc_id"), "left_semi")
            // per-key, per-side tombstone watermark, touched keys only —
            // one scan of the tombstone table instead of one
            // dropTombstoned anti-join inside each of the four
            // liveDocsFor legs (a tombstone is visible at a version iff
            // tomb_batch <= its WAL position, legacy MaxValue always)
            val tombAgg = tombstones.map(tb =>
              tb.join(touched, Seq("user_id", "doc_id"), "left_semi")
                .groupBy("user_id", "doc_id")
                .agg(
                  max(when(col("tomb_batch") <= posFrom ||
                      col("tomb_batch") === Long.MaxValue,
                    col("tomb_batch"))).as("_tomb_from"),
                  max(when(col("tomb_batch") <= posTo ||
                      col("tomb_batch") === Long.MaxValue,
                    col("tomb_batch"))).as("_tomb_to")))
            val tagged = tombAgg.fold(
              rows.withColumn("_tomb_from", lit(null).cast("long"))
                .withColumn("_tomb_to", lit(null).cast("long")))(ta =>
              rows.join(ta, Seq("user_id", "doc_id"), "left"))
            val aliveFrom = col("_in_from") &&
              (col("_tomb_from").isNull || col("src_batch") > col("_tomb_from"))
            val aliveTo = col("_in_to") &&
              (col("_tomb_to").isNull || col("src_batch") > col("_tomb_to"))
            tagged.groupBy("user_id", "doc_id")
              .agg(max(when(aliveFrom, col("src_batch"))).as("from_batch"),
                max(when(aliveTo, col("src_batch"))).as("to_batch"))
              .withColumn("change_type",
                when(col("from_batch").isNull && col("to_batch").isNull, lit(null))
                  .when(col("from_batch").isNull, lit("insert"))
                  .when(col("to_batch").isNull, lit("delete"))
                  .when(col("from_batch") =!= col("to_batch"), lit("update")))
              .filter(col("change_type").isNotNull) // unchanged / no-op touches
              .select("user_id", "doc_id", "change_type", "to_batch")
        }
    }
  }

  /** Trim history: keep the newest `keep` TOC versions PLUS any version a
    * live [[Snapshot]] still pins (see the pin registry above — GC must
    * never yank a pinned version's segments), delete older TOC files, then
    * garbage-collect what no kept version references — segment directories
    * and fully-flushed ops batches (batch id <= the oldest kept version's
    * lastFlushedBatch; newer batches may still be some kept version's
    * tail). Returns the deleted segment names. The current snapshot is
    * untouched; [[snapshotAt]] on an expired version throws. */
  def expireVersions(keep: Int = 1): Seq[String] = withWriter(pinLock.synchronized {
    val vs = versions
    val live = pinnedVersions
    val kept = (vs.takeRight(math.max(1, keep)) ++ vs.filter(live)).distinct.sorted
    val keptTocs = kept.flatMap(v => Toc.readVersion(path, v))
    val liveSegs = keptTocs.flatMap(_.segments).toSet
    vs.filterNot(kept.contains).foreach { v =>
      Files.deleteIfExists(Paths.get(path, "toc", s"version_$v"))
    }
    val segRoot = Paths.get(path, "segments")
    val deadSegs =
      if (!Files.exists(segRoot)) Nil
      else Fs.listNames(segRoot).filterNot(liveSegs).sorted
    deadSegs.foreach { s => segmentRecords.remove(s); deleteTree(segRoot.resolve(s)) }
    // WAL truncation: batches every kept version has flushed are dead
    val minFlushed = keptTocs.map(_.lastFlushedBatch).minOption.getOrElse(-1L)
    // fold the delete markers this truncation will remove into the
    // persisted tombstone-position watermark FIRST (write-before-delete:
    // a crash between the two leaves the bound high — conservative), so
    // [[tombPositionBound]] survives marker expiry and the tombstone-
    // inert fast path keeps firing on long-lived collections
    locally {
      val gone = tombMarkerIds().filter(_ <= minFlushed)
      if (gone.nonEmpty) {
        val cur = try Some(Files.readString(tombFoldPath).trim.toLong)
          catch { case _: Throwable => None }
        Files.writeString(tombFoldPath, (gone ++ cur).max.toString)
      }
    }
    val opsRoot = Paths.get(opsPath)
    if (Files.exists(opsRoot))
      Fs.listPaths(opsRoot).foreach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("batch=") && n.stripPrefix("batch=").toLong <= minFlushed) {
          walRelations.remove(s"$opsPath/$n").foreach { case (listing, _) =>
            listing.foreach(partSchemas.remove)
          }
          deleteTree(p)
        }
      }
    deadSegs
  })

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Fs.walkAll(p).reverse.foreach(Files.deleteIfExists(_))
    }

  /** Back up EXACTLY the state visible at `version` into a fresh
    * collection root under `destBase` (disaster recovery / environment
    * clone — the admin story on top of S11's segment listing): the
    * version's segments (file-level copy — segments are immutable, so
    * copying is consistent under concurrent writers), its single TOC
    * entry, the tail ops batches in `(lastFlushedBatch, pos]`, and only
    * the tombstones visible at that position (legacy unsequenced
    * tombstones hide every batch, so they come along). The source
    * version is PINNED for the duration, so `expireVersions` on another
    * thread can never GC segments mid-copy. `Collection.open` on the
    * clone then serves precisely `snapshotAt(version)`; later versions,
    * later deletes and later tail batches do not exist there. Returns
    * the restored collection. */
  def backup(destBase: String, version: Long): Collection = {
    val snap = snapshotAt(version) // pin against expiry while copying
    try copyPinned(destBase, snap)
    finally java.lang.ref.Reference.reachabilityFence(snap)
  }

  /** Back up the CURRENT version. The version is resolved and pinned in
    * one `snapshot()` call, so a concurrent `expireVersions` between a
    * caller-side `toc.version` read and the pin can never invalidate it
    * (the read-then-pin race GraftService.backup used to carry). Returns
    * the restored collection and the version that was backed up. */
  def backup(destBase: String): (Collection, Long) = {
    val snap = snapshot() // atomically: read current version + pin
    try (copyPinned(destBase, snap), snap.toc.version)
    finally java.lang.ref.Reference.reachabilityFence(snap)
  }

  private def copyPinned(destBase: String, snap: Snapshot): Collection = {
    {
      val t = snap.toc
      val pos = Collection.walPosition(t)
      val dest = Paths.get(destBase, config.name)
      require(!Files.exists(dest) || Fs.listNames(dest).isEmpty,
        s"backup destination $dest already exists and is non-empty")
      Files.createDirectories(dest)
      t.segments.foreach { seg =>
        copyTree(Paths.get(segPath(seg)), dest.resolve("segments").resolve(seg))
      }
      allBatchIds().filter(b => b > t.lastFlushedBatch && b <= pos).foreach { b =>
        copyTree(Paths.get(batchDir(b)), dest.resolve("ops").resolve(s"batch=$b"))
      }
      // Pin the clone's WAL position: when the copied tail doesn't reach
      // `pos` (e.g. the version had no unflushed tail), a fresh insert on
      // the clone would allocate a batch id BELOW the TOC's flush
      // watermark and silently never flush. A rowless position-claim
      // marker at `pos` (the delete-marker convention — readers skip it)
      // makes the clone's next batch id pos+1.
      // It is vacuously complete (`_TOMB_DONE`): no tombstone rows will
      // ever arrive for it — without that the clone could never certify
      // tombstone inertness (recordTombInert's pending check).
      val marker = dest.resolve("ops").resolve(s"batch=$pos")
      if (pos >= 0 && !Files.exists(marker))
        Files.move(stagedMarker(dest.resolve("ops"), done = true), marker,
          StandardCopyOption.ATOMIC_MOVE)
      tombstones.foreach { tb =>
        val visible = tb.filter(
          col("tomb_batch") <= pos || col("tomb_batch") === Long.MaxValue)
        if (!visible.isEmpty)
          visible.write.mode("overwrite").parquet(dest.resolve("tombstones").toString)
      }
      Toc.write(dest.toString, t)
      Collection.writeConfig(dest.toString, config) // clone is self-describing
      new Collection(spark, dest.toString, config)
    }
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    Fs.walkAll(src).foreach { p =>
      val rel = src.relativize(p).toString
      val t = if (rel.isEmpty) dst else dst.resolve(rel)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }

  private[core] def tailFor(t: Toc): Option[DataFrame] = tail(t)

  /** Load one user's slice of the collection into a driver-memory serving
    * view (see [[ServedUserView]]): single queries at in-memory latency,
    * zero Spark jobs per query. Rebuild after flush/merge/delete to see
    * newer data — the view pins this TOC like a snapshot. */
  def serveUser(userId: Any): ServedUserView = ServedUserView.build(this, userId)

  /** Cheap fingerprint of all serving-relevant state: TOC version, the
    * unflushed batch ids, and the tombstone file listing (name, size,
    * mtime — append and overwrite both change it). Equal fingerprints
    * imply a [[ServedUserView]] built under the old one is still
    * current; [[graft.api.GraftService]] keys its served-view cache on
    * this (TOC version alone would miss unflushed inserts/deletes). */
  def stateFingerprint(): String = {
    val t = toc
    val tailIds = tailBatchIds(t).mkString(",")
    val tombs =
      if (!Files.exists(Paths.get(tombPath))) ""
      else Fs.listPaths(Paths.get(tombPath))
        .map(p => s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
        .sorted.mkString(",")
    s"v${t.version};b[$tailIds];t[${tombs.hashCode}]"
  }

  // ---- recall calibration (beyond the reference: its nprobe heuristic
  // is just top_k, rs/config/src/search_params.rs:21-23) ----

  /** Measure recall@`k` vs probe depth on a bounded deterministic sample
    * of the collection's own vectors, and persist the curve so
    * [[graft.operators.SearchParams.targetRecall]] can resolve to the
    * smallest nprobe whose measured recall meets the target.
    *
    * The measurement is ANALYTIC — one bounded job pipeline instead of
    * |ladder| × |sample| real searches: an unpruned nprobe=p SPANN probe
    * reads exactly the posting lists of each segment's p query-nearest
    * centroids, so a true neighbor is found at depth p iff one of its
    * assigned centroids (multi-assignment included) ranks ≤ p within its
    * segment; unflushed tail rows are brute-forced by every search and
    * count as found at any depth. Ground truth is the exact broadcast
    * kNN ([[graft.operators.Ann.knnJoin]]'s documented bounded
    * nested-loop pattern — the query sample is driver-bounded). Recall
    * delivered at the resolved nprobe additionally requires the ratio
    * prune OFF, which targetRecall resolution does (see
    * [[Snapshot.search]]); CalibrationSpec pins curve-vs-real-search
    * parity. Cost: O(|segments| × C × nQueries) centroid scoring +
    * one truth kNN pass — a maintenance operation, like merge. */
  def calibrateRecall(k: Int = 10, nQueries: Int = 32,
      ladder: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64, 128)): Seq[(Int, Double)] = {
    require(k > 0 && nQueries > 0 && ladder.nonEmpty && ladder.forall(_ > 0),
      s"calibrateRecall(k=$k, nQueries=$nQueries, ladder=$ladder)")
    // ONE toc read, taken from the pinned snapshot: a separate `toc`
    // read could see a different version than the truth computation
    // (concurrent flush skews the curve) and isn't pinned against
    // expireVersions deleting its segment files mid-measure
    val snap = snapshot()
    val t = snap.toc
    val live = snap.liveRows.getOrElse(
      sys.error(s"calibrateRecall: collection at $path holds no rows"))
    // deterministic sample: first nQueries live vectors by (user_id,
    // doc_id) — stable across runs and partitionings
    val qRows = live.select(col("vector"))
      .orderBy("user_id", "doc_id").limit(nQueries).collect()
    val qSeq = qRows.toSeq.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getSeq[Double](0)) }
    val spark0 = spark
    import spark0.implicits._
    val qDf = qSeq.toDF("q_id", "q_vec")
    // exact truth: top-k per query over the live corpus, keyed on the
    // FULL (user_id, doc_id) identity (round-15 ADVICE: doc_ids may
    // repeat across users — truth keyed on doc_id alone let another
    // user's point supply the min centroid rank, the curve overestimated
    // and targetRecall under-delivered). Integral ids ride the bounded
    // top-k aggregate per (query, user) — tasks × k shuffle rows — then
    // a global per-query top-k over the (users × k)-bounded survivors
    // (lossless: within one user the global (dist, user, doc) order
    // restricts to the per-user (dist, doc) order, so every global
    // winner is in its user's top-k). Binary (u128) ids take a rank
    // window — corpus × nQueries shuffle rows, fine for a maintenance
    // pass — with the same (dist asc, user_id asc, doc_id asc) order.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = live.schema("doc_id").dataType
    val keyed = live.select(col("user_id"), col("doc_id"), col("vector"))
      .crossJoin(broadcast(qDf))
      .withColumn("_dist", l2_distance(col("vector"), col("q_vec")))
    val globalW = Window.partitionBy("q_id")
      .orderBy(col("_dist").asc, col("user_id").asc, col("doc_id").asc)
    // CACHED: the truth subtree (the expensive exact-kNN pass) is
    // referenced by every segment's rank plan (via neededDocs) AND the
    // final join — uncached it could re-execute |segments|+1 times.
    // Bounded at nQueries × k rows.
    val truth =
      (if (Seq(ByteType, ShortType, IntegerType, LongType).contains(idType))
        keyed.groupBy(col("q_id"), col("user_id"))
          .agg(topk_by_score(col("_dist"), col("doc_id").cast("long"), k).as("top"))
          .select(col("q_id"), col("user_id"), explode(col("top")).as("p"))
          .select(col("q_id"), col("user_id"),
            col("p.id").cast(idType).as("doc_id"), col("p.score").as("_dist"))
          .withColumn("_rn", row_number().over(globalW))
          .filter(col("_rn") <= k)
          .select("q_id", "user_id", "doc_id")
      else
        keyed
          .withColumn("_rn", row_number().over(globalW))
          .filter(col("_rn") <= k)
          .select("q_id", "user_id", "doc_id")
      ).cache()
    try {
    // per-segment centroid rank of each posting's point: crank ≤ p  ⟺
    // an nprobe=p probe of that segment reads the point's posting list.
    // Restricted to the TRUTH doc keys first (k × nQueries of them) —
    // without the semi-join the postings⋈ranks join would aggregate
    // corpus × nQueries rows per segment for ~k·nQueries consumed pairs.
    // Keys are the FULL (user_id, doc_id) identity throughout.
    val neededDocs = truth.select("user_id", "doc_id").distinct()
    val ranksPerSeg = t.segments.map { seg =>
      val cents = segment(seg).centroids
        .select(col("centroid_id").cast("int"), col("vector").cast("array<double>"))
      val ranked = cents.crossJoin(broadcast(qDf))
        .withColumn("cdist", l2_distance(col("vector"), col("q_vec")))
        .withColumn("crank", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cdist").asc, col("centroid_id").asc)))
        .select(col("q_id"), col("centroid_id").cast("int").as("centroid_id"),
          col("crank"))
      // LIVE vectors only (sequenced tombstone drop, the read paths'
      // rule): a tombstoned old version's posting would report a
      // shallower centroid rank than any live row achieves — the curve
      // would overestimate recall and targetRecall would under-deliver
      var v = segment(seg).vectors.select("point_id", "user_id", "doc_id", "src_batch")
      // the snapshot's PINNED tombstones, not a fresh read: a delete
      // committing mid-calibration must not hide rows from the ranks
      // while the pinned truth still counts them
      for (tb <- snap.pinnedTombstones) v = Search.dropTombstoned(v, tb)
      val vNeeded = v.join(neededDocs, Seq("user_id", "doc_id"), "left_semi")
        .select("point_id", "user_id", "doc_id")
      segment(seg).postings
        .select(col("centroid_id").cast("int").as("centroid_id"), col("point_id"))
        .join(vNeeded, Seq("point_id"))
        .join(ranked, Seq("centroid_id"))
        .groupBy("q_id", "user_id", "doc_id")
        .agg(min("crank").as("minrank"))
    }
    val ranks = ranksPerSeg.reduceOption(_ unionByName _)
      .map(_.groupBy("q_id", "user_id", "doc_id").agg(min("minrank").as("minrank")))
    // truth neighbors with no segment rank live in the tail (always
    // scanned): minrank null → found at every depth
    val joined = ranks.fold(truth.withColumn("minrank", lit(null).cast("int")))(
      r => truth.join(r, Seq("q_id", "user_id", "doc_id"), "left"))
      .select("minrank").collect() // bounded: nQueries × k rows
    val total = joined.length.toDouble
    val curve = ladder.distinct.sorted.map { p =>
      p -> joined.count(r => r.isNullAt(0) || r.getInt(0) <= p) / total
    }
    // persist (atomic tmp+rename, the CONFIG pattern). toc + the SEGMENT
    // SET are recorded so resolution can detect drift (round-15 verdict
    // #3 — a collection that flushed/merged since calibration must not
    // serve a stale curve silently); nq + ladder let maybeCompact
    // re-run the same measurement after it changes the segment set.
    val body = (Seq("v=1", s"toc=${t.version}", s"k=$k", s"nq=$nQueries",
      s"ladder=${ladder.distinct.sorted.mkString(",")}",
      s"segs=${t.segments.mkString(",")}",
      s"curve=${curve.map { case (p, r) => s"$p:$r" }.mkString(",")}") :+ "end=1")
      .mkString("", "\n", "\n")
    val tmp = Paths.get(path, "CALIBRATION.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(path, "CALIBRATION"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // keep the snapshot's expiry pin live across every job above (the
    // pin registry is weak-ref — without the fence a JIT could free it
    // mid-measure and a concurrent expireVersions could GC the segments)
    java.lang.ref.Reference.reachabilityFence(snap)
    curve
    } finally truth.unpersist()
  }

  /** Parse the persisted CALIBRATION key-value file (None if absent;
    * loud on truncation — the CONFIG posture). */
  private[core] def readCalibration(): Option[Map[String, String]] = {
    val p = Paths.get(path, "CALIBRATION")
    if (!Files.exists(p)) return None
    val kv = Files.readString(p).split("\n").filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    require(kv.get("end").contains("1"), s"truncated calibration file $p")
    Some(kv)
  }

  /** Resolve a recall target to a probe depth from the persisted
    * calibration curve: the smallest measured nprobe whose recall@k met
    * the target, else the deepest measured (the curve's ceiling — a
    * target above it is served best-effort at that depth). Fails loudly
    * without a calibration pass.
    *
    * Freshness (round-15 verdict #3 + ADVICE): a curve measured over a
    * different SEGMENT SET than the serving snapshot no longer describes
    * the index (new segments' centroids were never ranked), and a curve
    * measured at a different k resolves a recall@k the search doesn't
    * deliver — both refused loudly unless `acceptStale` opts into
    * best-effort. `at`/`topK` default to None for direct curve
    * inspection; [[Snapshot.search]] always passes both. Curves written
    * before the segs= field (pre-round-16) carry no segment record and
    * skip the drift check. */
  def nprobeFor(targetRecall: Double, at: Option[Toc] = None,
      topK: Option[Int] = None, acceptStale: Boolean = false): Int = {
    val kvOpt = readCalibration()
    require(kvOpt.isDefined,
      s"targetRecall=$targetRecall needs a calibration curve — run " +
        s"calibrateRecall() on the collection at $path first")
    val kv = kvOpt.get
    if (!acceptStale) {
      for (t <- at; calSegs <- kv.get("segs")) {
        val cal = calSegs.split(",").filter(_.nonEmpty).toSet
        val cur = t.segments.toSet
        require(cal == cur,
          s"stale calibration: the curve was measured over segments " +
            s"[${cal.toSeq.sorted.mkString(", ")}] but the snapshot serves " +
            s"[${cur.toSeq.sorted.mkString(", ")}] — run calibrateRecall() " +
            "again (maybeCompact re-runs it automatically after changing " +
            "the segment set), pass numExploredCentroids explicitly, or " +
            "set SearchParams.acceptStaleCalibration for best-effort")
      }
      for (qk <- topK; ck <- kv.get("k").map(_.toInt)) {
        require(qk == ck,
          s"calibration mismatch: the curve measures recall@$ck but this " +
            s"search asks topK=$qk (recall@k varies with k) — recalibrate " +
            s"with calibrateRecall(k = $qk), search at topK = $ck, or set " +
            "SearchParams.acceptStaleCalibration for best-effort")
      }
    }
    val curve = kv("curve").split(",").map { s =>
      val Array(a, b) = s.split(":", 2); (a.toInt, b.toDouble)
    }.sortBy(_._1)
    curve.find(_._2 >= targetRecall).map(_._1).getOrElse(curve.last._1)
  }

  // ---- maintenance (M1/M2) ----

  /** Merge all live segments into one: union live rows (tombstones dropped
    * — ids are remapped by rebuilding, J3), rebuild, swap TOC. */
  def merge(): Option[String] = withWriter {
    val t = toc
    if (t.segments.size < 2) return None
    val seg = s"merged_${t.version + 1}"
    rewrite(t, t.segments, seg, Seq(seg))
    Some(seg)
  }

  /** The one compaction rewrite behind [[merge]], [[mergeSmallest]] and
    * [[vacuum]]: union the `victims`' live rows (current tombstones
    * dropped — ids are remapped by rebuilding, J3) into the new segment
    * `seg`, record its disjointness from the segments that stay and its
    * tombstone inertness, then commit `segments` as the next TOC's list. */
  private def rewrite(t: Toc, victims: Seq[String], seg: String,
      segments: Seq[String]): Unit = {
    var rows = victims.map { s =>
      segment(s).vectors
        .drop(Seq("point_id", "user_bucket") ++ Quantizer.codecs.values.flatMap(_.codes): _*)
    // allowMissingColumns: segments flushed before an attribute was
    // added lack its column — the rebuild fills nulls (which never
    // match a Range), making merge() the schema-evolution upgrade the
    // capability errors point at
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    for (tb <- tombstones) rows = Search.dropTombstoned(rows, tb)
    buildSegment(rows, seg)
    recordDisjointness(seg, t.segments.filterNot(victims.contains))
    recordTombInert(seg, t)
    Toc.write(path, Toc(t.version + 1, segments, t.lastFlushedBatch,
      commitWalPosition(t)))
  }

  /** Size-tiered merge — the 100 TB compaction posture. [[merge]] rewrites
    * the WHOLE corpus into one segment; fine as the explicit M1 operation
    * and at toy scale, but as a recurring policy it makes every compaction
    * tick O(corpus) in write volume. This merges only the `k` smallest
    * live segments (sized from build-time meta.json — the policy tick
    * never rescans data), so steady-state ingest pays the classic
    * size-tiered amortized O(N log N) total rewrite instead of O(N) per
    * tick. Logically silent exactly like [[merge]]: rows keep their
    * `src_batch` WAL positions, current tombstones are physically dropped
    * from the rewritten subset only (older TOC versions still reference
    * the original segment files, so time travel across a tiered merge is
    * unaffected), and the un-merged segments pass through untouched. */
  def mergeSmallest(k: Int): Option[String] = withWriter {
    val t = toc
    val take = math.min(k, t.segments.size)
    if (t.segments.size < 2 || take < 2) return None
    val sized = t.segments.map(s => s -> segment(s).rows.getOrElse(segment(s).vectors.count()))
    val victims = sized.sortBy { case (n, c) => (c, n) }.take(take).map(_._1)
    val seg = s"tiered_${t.version + 1}"
    rewrite(t, victims, seg, t.segments.filterNot(victims.contains) :+ seg)
    Some(seg)
  }

  /** Auto-optimizer policy (M3, rs/index/src/optimizers/engine.rs:27-60;
    * server loop rs/index_server/src/main.rs:202-222): when the segment
    * count exceeds `maxNumberOfSegments`, TIER — merge just enough of the
    * smallest segments to return to the cap ([[mergeSmallest]]; merge-all
    * would rewrite the corpus every tick at scale); otherwise vacuum the
    * first segment whose tombstone fraction crosses the auto-vacuum
    * threshold (should_auto_vacuum, rs/index/src/segment/mod.rs:110-117).
    * Call from a scheduler; returns the action taken. */
  def maybeCompact(vacuumTombstoneFraction: Double = 0.1): Option[String] = {
    val t = toc
    val acted =
      if (t.segments.size > config.maxNumberOfSegments)
        mergeSmallest(t.segments.size - config.maxNumberOfSegments + 1)
          .map(s => s"merged -> $s")
      else tombstones.flatMap { tomb =>
        val tombCount = tomb.count()
        if (tombCount == 0) None
        else t.segments.find { seg =>
          val v = segment(seg).vectors
          // total comes from build-time segment metadata (meta.json) — a
          // policy tick must not re-scan every segment just to size the
          // fraction; dead = total - live is ONE anti-join job (robust to
          // duplicate tombstones for the same doc)
          val total = segment(seg).rows.getOrElse(v.count())
          val dead = total - Search.dropTombstoned(v, tomb).count()
          dead.toDouble > vacuumTombstoneFraction * math.max(1L, total)
        }.map { seg => vacuum(seg); s"vacuumed $seg" }
      }
    // auto-recalibration (round-15 verdict #3): both branches change the
    // segment set, which makes a persisted recall curve stale — refused
    // loudly at resolution. If the collection WAS calibrated, re-run the
    // same measurement (persisted k/nQueries/ladder) so targetRecall
    // searches keep resolving across compaction. A failed recalibration
    // leaves the old (still-stale, still-refused) curve in place, so it
    // must not fail the compaction that already committed.
    if (acted.isDefined) readCalibration().foreach { kv =>
      try calibrateRecall(
        k = kv.get("k").fold(10)(_.toInt),
        nQueries = kv.get("nq").fold(32)(_.toInt),
        ladder = kv.get("ladder").map(_.split(",").filter(_.nonEmpty)
          .map(_.toInt).toSeq).filter(_.nonEmpty)
          .getOrElse(Seq(1, 2, 4, 8, 16, 32, 64, 128)))
      catch { case e: Exception =>
        Console.err.println(s"[graft] maybeCompact: auto-recalibration at " +
          s"$path failed (${e.getMessage}); the stale curve stays refused " +
          "at targetRecall resolution until calibrateRecall() succeeds")
      }
    }
    acted
  }

  /** Vacuum one segment: rewrite it without tombstoned docs. */
  def vacuum(segment: String): Unit = withWriter {
    if (tombstones.isEmpty) return
    val t = toc
    val seg = s"${segment}_v"
    rewrite(t, Seq(segment), seg, t.segments.map(s => if (s == segment) seg else s))
  }

  /** Memoized "does segment's compiled filter pass ≤ threshold points"
    * decisions for the adaptive filtered-search branch. COLLECTION-scoped,
    * not per-Snapshot: the served path builds a fresh Snapshot per request
    * (GraftService.search), which would make a per-Snapshot memo never hit
    * exactly where it matters. Safe because segments are immutable and
    * segment names are unique within a collection path — an entry can
    * never go stale. */
  private[core] val adaptiveFits =
    new Collection.FactMemo[(String, graft.operators.DocFilter, Seq[Any], Long), Boolean]

  /** BM25 (N, avgdl) per (segment set, field, users) for snapshots whose
    * rows are all live and newest — then a pure function of the segments'
    * immutable lens tables, shared by every snapshot over them. */
  private[core] val lensStats = new Collection.FactMemo[(Seq[String], String, List[Any]), (Long, Double)]

  /** Hash bucket for partition pruning (stable across writes/reads). */
  private[graft] def userBucket(userId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (config.userBuckets > 0) pmod(xxhash64(userId), lit(config.userBuckets.toLong))
    else lit(0L)

  /** [[userBucket]] of one id, evaluated on the driver: the same Catalyst
    * expression the write side partitions by, so the value is the
    * `user_bucket` a flush wrote for that user — with no Spark job. */
  private[graft] def userBucketOf(userId: Any): Long =
    if (config.userBuckets <= 0) 0L
    else {
      import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
      Pmod(new XxHash64(Seq(Literal(userId))), Literal(config.userBuckets.toLong))
        .eval().asInstanceOf[Long]
    }

  /** Everything a reader may ask of one immutable segment, read at most
    * once per name — the reference's `Segment` trait
    * (rs/index/src/segment/mod.rs:21-41). Every member is lazy, so a read
    * touches only what it asks for:
    *  - the parquet relations. A fresh `spark.read.parquet` infers the
    *    schema with a footer-merge Spark job, and lists the 64
    *    `term_bucket` dirs with a parallel-listing job; the cached relation
    *    carries both, so a read of a segment costs only its data scan;
    *  - the facts MEASURED when it was built: `meta.json` (row count,
    *    unique keys), `disjoint.json` ([[recordDisjointness]]),
    *    `inert.json` ([[recordTombInert]]) and the doc_id bloom
    *    (`bloom.bin`). An absent fact reads as its
    *    conservative value, keeping readers on the newest-wins path;
    *  - the one legacy format default: `src_batch` on vectors tables
    *    written before the column existed.
    *
    * INVARIANT: a committed segment is never rewritten under its name.
    * Flush, merge, vacuum and tiered merge always mint a new name, so a
    * record can never go stale. The one writer of a name is the build
    * that mints it — possibly a retry after a failed first attempt — so
    * [[buildSegment]] drops the name's record when it starts, and
    * [[expireVersions]] drops it when it deletes the segment. The fact
    * files land before the TOC commit, so only committed segments' facts
    * are read. */
  private[graft] final class Segment(name: String) {
    def file(f: String): String = s"${segPath(name)}/$f"
    private def table(t: String): DataFrame = spark.read.parquet(file(t))
    private def json(f: String): String = {
      val p = Paths.get(file(f))
      if (Files.exists(p)) Files.readString(p) else ""
    }

    /** Rows carry `src_batch`, their WAL position; a table written before
      * the column existed reads `Long.MinValue` (older than every
      * tombstone). */
    lazy val vectors: DataFrame = {
      val v = table("vectors")
      if (v.columns.contains("src_batch")) v else v.withColumn("src_batch", lit(Long.MinValue))
    }
    lazy val terms: DataFrame = table("terms")
    lazy val centroids: DataFrame = table("centroids")
    lazy val postings: DataFrame = table("postings")
    /** Per-(user, point, field) BM25 doc-length norms; check [[hasLens]]. */
    lazy val lens: DataFrame = table("lens")

    private lazy val meta = json("meta.json")
    /** Build-time row count (None for segments built before meta.json). */
    lazy val rows: Option[Long] =
      """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(meta).map(_.group(1).toLong)
    /** Build-time "no duplicate (user_id, doc_id)" fact. */
    lazy val uniqueKeys: Boolean = """"uniqueKeys"\s*:\s*true""".r.findFirstIn(meta).isDefined
    /** The segments this one was measured to share no key with. */
    lazy val disjointFrom: Set[String] =
      """"disjointFrom"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json("disjoint.json"))
        .map(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSet)
        .getOrElse(Set.empty)
    /** The tombstone set as of a WAL position at or below this hides
      * nothing here — what lets a snapshot treat lingering tombstone files
      * as empty once compaction physically applied them. */
    lazy val tombInertUpTo: Option[Long] =
      """"tombInertUpTo"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json("inert.json"))
        .map(_.group(1).toLong)
    /** Pre-lens segments derive identical lengths from the positions
      * column — a fallback, not an error: the data fully exists. */
    lazy val hasLens: Boolean = Files.exists(Paths.get(file("lens")))
    /** The segment-level bloom over xxhash64(doc_id) (`bloom.bin`, F9):
      * the delete short-circuit and the disjointness probe. */
    lazy val bloom: Option[org.apache.spark.util.sketch.BloomFilter] = {
      val p = Paths.get(file("bloom.bin"))
      if (!Files.exists(p)) None
      else {
        val in = Files.newInputStream(p)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    }
    /** Does the term index carry per-(term, point) positions (what
      * Phrase/Near and BM25's tf consume)? */
    def hasPositions: Boolean = terms.columns.contains("positions")
    /** The numeric-attribute capability check's column set. */
    def vectorColumns: Set[String] = vectors.columns.toSet
  }

  private val segmentRecords = TrieMap.empty[String, Segment]
  private[graft] def segment(name: String): Segment =
    segmentRecords.getOrElseUpdate(name, new Segment(name))

  /** Segment names holding a record (tests check the lifecycle). */
  private[graft] def cachedSegments: Set[String] = segmentRecords.keySet.toSet

  /** Vectors table with a partition-pruning predicate for the given users:
    * the filter is on the `user_bucket` PARTITION column, so Catalyst
    * prunes bucket directories before the scan. Bucket values for the
    * requested users come from [[userBucketOf]] (the write side's own
    * expression, evaluated on the driver). */
  private[core] def vectorsFor(seg: String, userIds: Seq[Any]): DataFrame = {
    val df = segment(seg).vectors
    if (userIds.isEmpty || config.userBuckets <= 0) df
    else df.filter(col("user_bucket").isin(userIds.map(userBucketOf).distinct: _*))
  }
}

object Collection {
  /** A collection-scoped memo of facts about immutable segments. The
    * value is computed OUTSIDE the map (a concurrent duplicate computes
    * the same answer — cheaper than serializing unrelated reads behind a
    * lock held across a Spark job). Bounded: cleared wholesale past 256
    * entries, since keys may retain per-request filters and user lists. */
  private[core] final class FactMemo[K, V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[K, Option[V]]()
    def apply(key: K)(compute: => V): V = {
      val cached = m.get(key)
      if (cached != null) return cached.get
      val v = compute
      if (m.size >= 256) m.clear()
      m.put(key, Some(v))
      v
    }
  }

  /** Term-hash partition count for segment term indexes (fixed so readers
    * can recompute the bucket of a query term without segment metadata). */
  val termBuckets: Long = 64L

  /** A text field's analyzed tokens: one lowercased token for a keyword
    * value, the stemmed tokens (`lang`) for a text value, and none for a
    * null value. The one analysis the flush (terms and lens), the Spark
    * tail reads and filters, and the served tail all index a value with,
    * so a doc holding a null value has no term, dl 0, and matches every
    * NotContains on every path. */
  private[core] def fieldTokens(field: String, keyword: Boolean, lang: String): Column =
    when(col(field).isNull, array().cast("array<string>"))
      .otherwise(if (keyword) array(lower(col(field))) else analyze_text(col(field), lit(lang)))

  def create(spark: SparkSession, base: String, config: CollectionConfig): Collection = {
    val p = s"$base/${config.name}"
    Files.createDirectories(Paths.get(p))
    Toc.write(p, Toc(0L, Nil, -1L))
    writeConfig(p, config)
    new Collection(spark, p, config)
  }

  def open(spark: SparkSession, base: String, config: CollectionConfig): Collection =
    new Collection(spark, s"$base/${config.name}", config)

  /** Open a collection from its PERSISTED config (written by [[create]]
    * since round 13). This is what config-less surfaces use — the
    * `graft_ann` SQL table function has no way to pass a
    * [[CollectionConfig]], and guessing defaults silently serves a
    * quantized collection through the un-quantized path. */
  def openPersisted(spark: SparkSession, base: String, name: String): Collection = {
    val p = s"$base/$name"
    val cfg = readConfig(p).getOrElse(sys.error(
      s"no persisted config at $p/CONFIG — create the collection with " +
        "Collection.create (which persists it) or open with an explicit config"))
    new Collection(spark, p, cfg)
  }

  /** Line-oriented config codec (no JSON dependency in core): one
    * `key=value` per scalar field, one `attr=name|kind|lang` line per
    * attribute-schema field. */
  private[core] def writeConfig(path: String, c: CollectionConfig): Unit = {
    val lines = Seq(
      "v=2", // header + `end=1` terminator pair: truncation detectable
      s"name=${c.name}", s"numFeatures=${c.numFeatures}",
      s"initialNumCentroids=${c.initialNumCentroids}",
      s"maxClustersPerVector=${c.maxClustersPerVector}",
      s"clusteringDistanceThresholdPct=${c.clusteringDistanceThresholdPct}",
      s"maxPostingListSize=${c.maxPostingListSize}",
      s"clusteringSample=${c.clusteringSample}",
      s"maxPendingOps=${c.maxPendingOps}",
      s"maxNumberOfSegments=${c.maxNumberOfSegments}",
      s"userBuckets=${c.userBuckets}",
      s"quantizer=${c.quantizer}",
      s"pqSubvectors=${c.pqSubvectors}", s"pqBits=${c.pqBits}",
      s"centroidIndexType=${c.centroidIndexType}",
      s"assignProbeGroups=${c.assignProbeGroups}") ++
      c.attributeSchema.map(f => s"attr=${f.name}|${f.kind}|${f.lang}") :+
      "end=1" // terminator: readConfig rejects a truncated file
    // tmp + atomic rename (the TOC commit pattern): a crash/disk-full
    // mid-write must never leave a partial CONFIG that readConfig's
    // per-field forward-compat defaults would silently "repair" into a
    // wrong quantizer/bucket layout
    val tmp = Paths.get(path, "CONFIG.tmp")
    Files.writeString(tmp, lines.mkString("\n") + "\n")
    Files.move(tmp, Paths.get(path, "CONFIG"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[core] def readConfig(path: String): Option[CollectionConfig] = {
    val p = Paths.get(path, "CONFIG")
    if (!Files.exists(p)) return None
    val kv = scala.collection.mutable.Map[String, String]()
    val attrs = scala.collection.mutable.ArrayBuffer[AttrField]()
    Files.readString(p).split("\n").filter(_.nonEmpty).foreach { line =>
      val i = line.indexOf('=')
      val (k, v) = (line.take(i), line.drop(i + 1))
      if (k == "attr") {
        val parts = v.split("\\|", -1)
        attrs += AttrField(parts(0), parts(1), parts(2))
      } else kv(k) = v
    }
    // Forward compatibility (ADVICE r13): every field beyond the two
    // identity ones falls back to the case-class default, so a CONFIG
    // written by an older build (fewer fields) opens cleanly after a
    // field is added to writeConfig — and unknown keys written by a
    // NEWER build are simply ignored. The identity fields stay required:
    // a CONFIG missing `name`/`numFeatures` is corrupt, and the error
    // says which file and key.
    // The v=2 header / `end=1` terminator pair guards the defaults' blind
    // spot: a TRUNCATED v=2 file keeps its first line but loses the last,
    // so it fails loudly here instead of silently opening with a
    // defaulted quantizer/bucket layout. Truncation is also prevented at
    // the source (writeConfig commits via tmp + atomic rename, the TOC
    // pattern) — this is defense in depth for files copied by external
    // tooling. Legacy headerless files stay readable via the defaults.
    if (kv.contains("v") && !kv.get("end").contains("1")) sys.error(
      s"corrupt collection config $p: v=${kv("v")} header without its " +
        "end terminator — the file is truncated")
    def req(k: String): String = kv.getOrElse(k, sys.error(
      s"corrupt collection config $p: missing required key '$k'"))
    val dflt = CollectionConfig(name = "", numFeatures = 0)
    Some(CollectionConfig(
      name = req("name"), numFeatures = req("numFeatures").toInt,
      initialNumCentroids =
        kv.get("initialNumCentroids").map(_.toInt).getOrElse(dflt.initialNumCentroids),
      maxClustersPerVector =
        kv.get("maxClustersPerVector").map(_.toInt).getOrElse(dflt.maxClustersPerVector),
      clusteringDistanceThresholdPct = kv.get("clusteringDistanceThresholdPct")
        .map(_.toDouble).getOrElse(dflt.clusteringDistanceThresholdPct),
      maxPostingListSize =
        kv.get("maxPostingListSize").map(_.toLong).getOrElse(dflt.maxPostingListSize),
      clusteringSample =
        kv.get("clusteringSample").map(_.toInt).getOrElse(dflt.clusteringSample),
      maxPendingOps =
        kv.get("maxPendingOps").map(_.toLong).getOrElse(dflt.maxPendingOps),
      maxNumberOfSegments =
        kv.get("maxNumberOfSegments").map(_.toInt).getOrElse(dflt.maxNumberOfSegments),
      userBuckets = kv.get("userBuckets").map(_.toInt).getOrElse(dflt.userBuckets),
      quantizer = kv.getOrElse("quantizer", dflt.quantizer),
      pqSubvectors = kv.get("pqSubvectors").map(_.toInt).getOrElse(dflt.pqSubvectors),
      pqBits = kv.get("pqBits").map(_.toInt).getOrElse(dflt.pqBits),
      centroidIndexType = kv.getOrElse("centroidIndexType", dflt.centroidIndexType),
      assignProbeGroups =
        kv.get("assignProbeGroups").map(_.toInt).getOrElse(dflt.assignProbeGroups),
      attributeSchema = attrs.toSeq))
  }

  /** A version's logical WAL position: maxOpsBatch when recorded at
    * commit; legacy TOCs fall back to the flush watermark (segments-only
    * view). The single definition [[Collection.snapshotAt]] and
    * [[Collection.changes]] both pin against. */
  private[core] def walPosition(t: Toc): Long =
    if (t.maxOpsBatch >= 0L) t.maxOpsBatch else t.lastFlushedBatch
}

/** A pinned view of the collection: the TOC version read at construction
  * plus the unflushed tail and the tombstone set as of that moment (a
  * time-travel snapshot pins tombstones by WAL position; the live
  * snapshot pins whatever exists at construction). Searches union
  * per-segment SPANN results with a brute-force scan of the tail
  * (read-your-writes, R5) and take a global top-k (A5: sort
  * (score, doc_id), truncate). */
final class Snapshot(
    coll: Collection, val toc: Toc, segments: Seq[String], tailRows: Option[DataFrame],
    tombRows0: Option[DataFrame], tombVisibleUpTo: Option[Long] = None) {

  /** The EFFECTIVE tombstone set every read path anti-joins against:
    * the pinned set, unless every tombstone visible here is PROVEN inert
    * — compaction already physically applied it to every segment — in
    * which case it drops to None and the anti-joins (and, with the other
    * facts, the whole newest-wins machinery) vanish from the plans.
    * Proof is driver-side O(1) from build-time facts (round 17):
    * `u = min(tombPositionBound, tombVisibleUpTo)` bounds every
    * SEQUENCED tombstone this snapshot can see — `tombVisibleUpTo` is
    * the `tomb_batch <= pos` cap [[Collection.snapshotAt]] filtered
    * `tombRows0` with, and is ABSENT for the live snapshot, which sees
    * every tombstone on disk including ones claimed past its TOC's
    * position (read-your-writes; capping the live view by walPosition
    * was the round-17 review bug — a just-issued delete would have been
    * wrongly certified inert). Unsequenced legacy rows void the
    * per-segment fact itself ([[Collection.recordTombInert]]'s
    * no-MaxValue certification), and each segment's recorded
    * `tombInertUpTo >= u` certifies the measured "hides nothing" fact
    * covers all of them. A non-empty tail keeps the full set —
    * tombstones may hide TAIL rows, which no segment fact speaks for.
    * Lingering tombstone files over compacted segments are the 100 TB
    * steady state (files are retained for time travel), so this is the
    * shape the fast path must cover. */
  private lazy val tombRows: Option[DataFrame] =
    if (tombRows0.isEmpty || tailRows.nonEmpty) tombRows0
    else {
      val inert = coll.tombPositionBound.exists { b =>
        val u = math.min(b, tombVisibleUpTo.getOrElse(Long.MaxValue))
        segments.nonEmpty && segments.forall(s =>
          coll.segment(s).tombInertUpTo.exists(u <= _))
      }
      if (inert) None else tombRows0
    }

  /** The PINNED tombstone set this snapshot answers with — exposed so
    * collection-level measurement passes (calibrateRecall) use the same
    * frozen view as the truth they compare against, never a fresh read
    * that a concurrent delete could skew. */
  private[core] def pinnedTombstones: Option[DataFrame] = tombRows

  /** The segment list this snapshot reads — what the one-pass CDC diff
    * ([[Collection.changesWithPositions]]) tags row visibility with.
    * Constructor params are object-private in Scala, so the cross-
    * instance diff needs an explicit accessor. */
  private[core] def segmentNames: Seq[String] = segments

  /** Every physical row this snapshot serves is PROVABLY its key's newest
    * live version: every segment built with a MEASURED duplicate-free
    * (user_id, doc_id) key set (flush records the fact in meta.json),
    * every segment PAIR measured key-disjoint at build time
    * (disjoint.json — round 17; single-segment snapshots need no pair
    * facts), no unflushed tail, no tombstones. Under these facts the
    * union of the segments is itself duplicate-free, so the newest-wins
    * machinery — the per-key version window, the newest-key semi-join,
    * the src_batch dedups — is the identity, and every read path skips
    * it: ranked retrieval and the aggregation surfaces collapse to
    * dictionary-pruned scans + id joins. This covers both the mature
    * post-compaction shape (one merged segment that measured unique) AND
    * the append-only multi-flush steady state (each flush's keys measured
    * disjoint from its predecessors) — the two 100 TB shapes; any
    * duplicate key, unproven pair, tail row, or live tombstone disables
    * it conservatively (segments without the recorded facts too).
    * "Tombstone-free" means the EFFECTIVE set ([[tombRows]]): tombstone
    * files proven inert by compaction-time measurement count as none. */
  private lazy val allRowsNewestLive: Boolean =
    tailRows.isEmpty && tombRows.isEmpty && segments.nonEmpty &&
      segments.forall(coll.segment(_).uniqueKeys) &&
      (segments.size == 1 || coll.segmentsPairwiseDisjoint(segments))

  private def fieldLang: Map[String, String] =
    coll.config.attributeSchema.map(f => f.name -> f.lang).toMap

  /** Every filter entering this snapshot is normalized against the
    * attribute SCHEMA ([[DocFilter.normalize]]): the field kind decides
    * keyword-vs-analyzed matching on every read path (flushed segments,
    * unflushed tail), so a caller's keyword flag can never make the tail
    * and the index disagree across a flush. */
  private def norm(f: DocFilter): DocFilter =
    DocFilter.normalize(f,
      fl => coll.config.attributeSchema.exists(a => a.name == fl && a.kind == "keyword"))

  /** Per-segment term-index capability map: segment name -> does its
    * persisted term index carry positions (what Phrase/Near consume)?
    * False only for segments flushed before the positions column landed;
    * any rebuild (merge / mergeSmallest / vacuum / POST /optimize)
    * upgrades, because `buildSegment` always writes positions. */
  def positionsCapability: Map[String, Boolean] =
    segments.map(s => s -> coll.segment(s).hasPositions).toMap

  /** Positional queries fail NAMING the segments that need a re-flush
    * (round-14 verdict #8): without this, a mixed collection (old + new
    * segments) failed only at an anonymous schema require deep inside the
    * per-segment compile. The capability check reads the segment
    * record's cached terms schema — no footer read once warm. */
  private def requirePositions(nf: DocFilter): Unit =
    if (DocFilter.needsPositions(nf)) {
      val missing = segments.filterNot(coll.segment(_).hasPositions)
      require(missing.isEmpty,
        s"phrase/proximity filters need per-(term, point) positions, but " +
          s"segment(s) ${missing.mkString(", ")} of collection " +
          s"'${coll.config.name}' were flushed before the positions column " +
          "landed — rebuild them (coll.merge() / mergeSmallest / POST " +
          "/optimize rewrite segments WITH positions), then retry; " +
          "Snapshot.positionsCapability lists per-segment status")
    }

  /** Range-filter capability check (the positions-map pattern for
    * numeric attributes): each ranged field must be a numeric KIND in
    * the schema, and every segment's vectors table must carry its
    * column — a segment flushed before the field was added fails NAMING
    * itself with the rebuild as the fix, instead of an anonymous
    * universe-frame require deep in the per-segment compile. (Tail rows
    * without the column simply never match — the null contract.) */
  private def requireNumericFields(nf: DocFilter): Unit = {
    val ranged = DocFilter.rangeFields(nf)
    if (ranged.isEmpty) return
    val numeric = coll.config.numericFields.map(_.name).toSet
    val notNumeric = ranged -- numeric
    require(notNumeric.isEmpty,
      s"Range filter over ${notNumeric.mkString(", ")}: not a numeric " +
        s"attribute of collection '${coll.config.name}' — declare the " +
        "field with kind long/double in attributeSchema")
    for (f <- ranged) {
      val missing = segments.filterNot(coll.segment(_).vectorColumns(f))
      require(missing.isEmpty,
        s"Range filter over '$f': segment(s) ${missing.mkString(", ")} of " +
          s"collection '${coll.config.name}' were flushed before that " +
          "attribute existed — rebuild them (coll.merge() / mergeSmallest " +
          "/ POST /optimize), then retry")
    }
  }

  private def filterPoints(seg: String, filter: Option[DocFilter],
      userIds: Seq[Any]): Option[DataFrame] =
    filter.map { f =>
      // the negation universe only needs the searched users' points, so it
      // rides the same bucket-pruned scan as the search itself; numeric
      // attribute columns ride along for Range leaves (pruned when unused)
      val v = coll.vectorsFor(seg, userIds)
      val uniCols = Seq("user_id", "point_id") ++
        coll.config.numericFields.map(_.name).filter(v.columns.contains)
      graft.operators.FilterCompiler.compile(
        f,
        coll.segment(seg).terms,
        v.select(uniCols.map(col): _*),
        fieldLang)
    }


  def search(
      query: Seq[Double],
      params0: SearchParams = SearchParams(),
      userIds: Seq[Any] = Nil,
      filter: Option[DocFilter] = None): DataFrame = {
    // targetRecall resolution (beyond-ref): calibrated nprobe + ratio
    // prune OFF — the curve measures unpruned probes, so leaving the
    // ratio on would deliver less than the calibrated recall. An
    // explicit numExploredCentroids always wins.
    val params = params0.targetRecall match {
      case Some(tr) if params0.numExploredCentroids.isEmpty =>
        params0.copy(numExploredCentroids = Some(coll.nprobeFor(tr,
            at = Some(toc), topK = Some(params0.topK),
            acceptStale = params0.acceptStaleCalibration)),
          centroidDistanceRatio = 1e18)
      case _ => params0
    }
    val nf = filter.map(norm)
    nf.foreach(requirePositions)
    nf.foreach(requireNumericFields)
    val perSegment = segments.map { seg =>
      // Selectivity-adaptive filtered search (opt-in via
      // SearchParams.adaptiveFilterThreshold): a selective filter's
      // survivors rarely all live in the nprobe nearest posting lists, so
      // the probe-then-semi-join pipeline below can return fewer than k
      // matches even though k exist. When this segment's compiled filter
      // passes at most `threshold` points, answer the segment with an
      // exact scan of exactly those points (the id-keyed semi-join rides
      // the same bucket-pruned scan) — recall 1.0 at O(|filter|). The
      // count costs one bounded job on the already-compiled filter frame,
      // and ONLY on the first serve: the outcome is memoized per snapshot
      // (segments immutable, version pinned), and the same compiled frame
      // `fp` is reused by the probe fallback — no recompilation either way.
      val fp: Option[DataFrame] = filterPoints(seg, nf, userIds)
      val adaptiveBrute: Option[DataFrame] =
        if (params.adaptiveFilterThreshold <= 0L || nf.isEmpty) None
        else fp.flatMap { f =>
          val th = params.adaptiveFilterThreshold
          val fits = coll.adaptiveFits((seg, nf.get, userIds, th)) {
            val probe = math.min(th, Int.MaxValue - 1L).toInt + 1
            f.limit(probe).count() <= th
          }
          if (!fits) None
          else Some(Search.bruteForce(
            coll.vectorsFor(seg, userIds), query, params.topK, userIds,
            filterPoints = Some(f), tombstones = tombRows))
        }
      adaptiveBrute.getOrElse {
        Search.spann(
          coll.vectorsFor(seg, userIds), // bucket-pruned scan for named users
          coll.segment(seg).centroids,
          coll.segment(seg).postings,
          query, params, userIds, fp, tombRows,
          estimate = coll.codec(seg).map(_(query)))
      }
    }
    val tailResult = tailRows.map { rows =>
      // Brute-force over the unindexed tail; attribute filters evaluated
      // directly on the raw rows (no term index yet).
      var df = rows
      if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
      for (f <- nf) df = df.filter(compileRaw(f, df))
      for (tb <- tombRows) df = Search.dropTombstoned(df, tb)
      df.withColumn("score", l2_distance(col("vector"), vec(query)))
        .select("user_id", "doc_id", "score")
    }
    (perSegment ++ tailResult)
      .reduceOption(_ unionByName _)
      .map(_.orderBy(col("score").asc, col("doc_id").asc).limit(params.topK))
      .getOrElse(coll.spark.emptyDataFrame)
  }

  /** The key set a reader of this snapshot observes — one row per live
    * (user_id, doc_id), carrying the NEWEST WAL position among its
    * surviving physical rows (`src_batch`; Long.MinValue for legacy
    * segment rows written before the column existed). None when the
    * snapshot is empty (fresh collection, v0). Column-pruned to 3 cols —
    * the basis [[Collection.changes]] diffs two versions on. */
  def liveDocs: Option[DataFrame] = liveDocsFor(None)

  /** [[liveDocs]] restricted to `keys` (`[user_id, doc_id]`) — the same
    * O(delta) discipline as [[liveRowsFor]]: the key semi-join lands on
    * the raw segment/tail rows BEFORE the per-key max aggregate, so a CDC
    * diff's shuffle carries only the touched keys' rows instead of
    * aggregating the corpus and then discarding everything untouched.
    * Identical result by construction: the aggregate groups by exactly
    * the key the semi-join filters on. */
  def liveDocsFor(keys: Option[DataFrame]): Option[DataFrame] = {
    val segRows = segments.map { seg =>
      coll.segment(seg).vectors.select("user_id", "doc_id", "src_batch")
    }
    val tailKeyed = tailRows.map(_.select(col("user_id"), col("doc_id"), col("src_batch")))
    (segRows ++ tailKeyed).reduceOption(_ unionByName _).map { rows0 =>
      val rows = keys.fold(rows0)(k =>
        rows0.join(k.select("user_id", "doc_id"), Seq("user_id", "doc_id"), "left_semi"))
      // fast path: one live version per key, proven at build time — the
      // per-key max aggregate is the identity
      if (allRowsNewestLive) rows
      else {
        val alive = tombRows.fold(rows)(tb => Search.dropTombstoned(rows, tb))
        alive.groupBy("user_id", "doc_id").agg(max(col("src_batch")).as("src_batch"))
      }
    }
  }

  /** [[liveDocs]] WITH payload: one row per live (user_id, doc_id)
    * carrying the vector of its newest surviving physical row. This is
    * the fetch side of a CDC consumer — `changes()` names the touched
    * keys, [[liveRowsFor]] supplies the bytes to upsert. None when the
    * snapshot is empty. */
  def liveRows: Option[DataFrame] = liveRowsFor(None)

  /** [[liveRows]] restricted to `keys` (`[user_id, doc_id]`) — the
    * O(delta) fetch shape: the key semi-join lands directly on the
    * bucket/bloom-prunable segment scans, BEFORE the newest-row window,
    * so the window's shuffle carries only the touched keys' rows.
    * (Restricting liveRows' OUTPUT instead would window the whole corpus
    * first — correct, but an O(corpus) shuffle per delta fetch.)
    * Identical result by construction: the window partitions by the
    * same key the semi-join filters on. */
  def liveRowsFor(keys: Option[DataFrame]): Option[DataFrame] =
    newestLiveRows(keys, Nil, df => Seq(df("vector")))
      .map(_.select("user_id", "doc_id", "vector", "src_batch"))

  /** Payload fetch for keys whose newest live WAL position the caller
    * ALREADY knows — `versions` is `[user_id, doc_id, src_batch]` triples
    * as [[Collection.changes]]/[[liveDocs]] report them. One semi-join on
    * the exact triple replaces [[liveRowsFor]]'s whole newest-row
    * machinery (tombstone drop + version window): the triple names a live
    * row by construction, so re-deriving "newest live" per fetch is
    * redundant work — the natural CDC consumer shape, where the delta
    * that names the key also carries its position. Rows predating the
    * src_batch column match the Long.MinValue sentinel, same as
    * [[liveDocs]] reports for them. If one batch wrote a key twice the
    * triple names both physical rows; one is kept ([[liveRowsFor]]'s
    * window breaks that same tie arbitrarily too).
    *
    * PROVENANCE REQUIREMENT (round-16 advice, why this is not public
    * API): no tombstone drop happens here — the semi-join is only
    * correct for triples derived from [[Collection.changes]]/[[liveDocs]]
    * AT THIS SNAPSHOT'S VERSION, where the position names a live row by
    * construction. A stale or hand-built triple would fetch deleted or
    * superseded payloads silently; external callers go through
    * [[liveRowsFor]], which re-derives liveness. */
  private[graft] def liveRowsForVersions(versions: DataFrame): Option[DataFrame] = {
    val segRows = segments.map { seg =>
      coll.segment(seg).vectors.select("user_id", "doc_id", "src_batch", "vector")
    }
    val tailKeyed = tailRows.map(
      _.select(col("user_id"), col("doc_id"), col("src_batch"), col("vector")))
    (segRows ++ tailKeyed).reduceOption(_ unionByName _).map(
      _.join(versions.select("user_id", "doc_id", "src_batch"),
          Seq("user_id", "doc_id", "src_batch"), "left_semi")
        .dropDuplicates("user_id", "doc_id"))
  }

  /** The newest-live-row engine shared by [[liveRowsFor]] (CDC payload
    * fetch) and [[facetCounts]] (attribute lookup): segment + tail rows
    * projected to `(user_id, doc_id, src_batch, <extra>)`, key-restricted
    * BEFORE the window when `keys` is given (O(delta), never O(corpus)),
    * tombstones dropped, newest WAL position winning per key — ONE
    * definition of "the live row", so a facet value and a CDC payload can
    * never disagree for the same doc. */
  private def newestLiveRows(keys: Option[DataFrame], userIds: Seq[Any],
      extra: DataFrame => Seq[org.apache.spark.sql.Column]): Option[DataFrame] = {
    val segRows = segments.map { seg =>
      val v = coll.vectorsFor(seg, userIds)
      v.select(Seq(col("user_id"), col("doc_id"), col("src_batch")) ++ extra(v): _*)
    }
    val tailKeyed = tailRows.map { rows =>
      var df = rows
      if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
      df.select(Seq(col("user_id"), col("doc_id"), col("src_batch")) ++ extra(df): _*)
    }
    (segRows ++ tailKeyed).reduceOption(_ unionByName _).map { rows0 =>
      val rows = keys.fold(rows0)(k =>
        rows0.join(k.select("user_id", "doc_id"), Seq("user_id", "doc_id"), "left_semi"))
      // one live version per key, proven at build time: the row IS the
      // newest live row — no tombstone drop, no version window
      if (allRowsNewestLive) rows
      else {
        val alive = tombRows.fold(rows)(tb => Search.dropTombstoned(rows, tb))
        // newest WAL position wins per key — the same row liveDocs reports
        val w = Window.partitionBy("user_id", "doc_id")
          .orderBy(col("src_batch").desc)
        alive.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
    }
  }

  /** Restrict physical match rows `[user_id, doc_id, src_batch, ...]` to
    * those carried by each doc's NEWEST live row — the same "ONE live
    * row" definition as the CDC fetch ([[newestLiveRows]]). Without this,
    * a doc re-inserted without a delete would keep matching through a
    * superseded version whose content the newest row no longer carries
    * (round-14 advice). O(matched keys), never O(corpus): the newest-key
    * lookup is key-restricted BEFORE its window. */
  private def newestVersionOnly(matches: DataFrame, userIds: Seq[Any]): DataFrame =
    if (allRowsNewestLive) matches // every row already is the newest live one
    else newestLiveRows(Some(matches), userIds, _ => Nil) match {
      case Some(newest) => matches.join(
        newest.select("user_id", "doc_id", "src_batch"),
        Seq("user_id", "doc_id", "src_batch"), "left_semi")
      case None => matches
    }

  /** Every live `[user_id, doc_id]` matching `filter` — [[termSearch]]'s
    * match set without the order/limit: the input to aggregations over
    * matches, where a top-limit would bias every bucket. None when the
    * snapshot holds no rows at all.
    *
    * NEWEST-WINS: a doc counts iff its newest live version matches —
    * aggregations (facets, stats) must agree with the attribute values
    * [[newestLiveRows]] would report for the same docs. ([[termSearch]]
    * itself stays ANY-LIVE-VERSION membership, the reference's term-index
    * semantics — documented there.) */
  def matchedDocs(filter: DocFilter, userIds: Seq[Any] = Nil): Option[DataFrame] = {
    val nf = norm(filter)
    requirePositions(nf)
    requireNumericFields(nf)
    val perSegment = segments.map { seg =>
      val v = coll.vectorsFor(seg, userIds)
      val idCols = Seq("user_id", "point_id", "doc_id", "src_batch") ++
        coll.config.numericFields.map(_.name).filter(v.columns.contains)
      Search.termMatches(
        coll.segment(seg).terms,
        v.select(idCols.map(col): _*),
        nf, userIds, tombRows, fieldLang, keepSrcBatch = true)
    }
    val tailResult = tailRows.map { rows =>
      var df = rows
      if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
      df = df.filter(compileRaw(nf, df))
      for (tb <- tombRows)
        df = Search.dropTombstoned(df, tb)
      df.select("user_id", "doc_id", "src_batch")
    }
    (perSegment ++ tailResult)
      .reduceOption(_ unionByName _)
      // fast path: every match row is its key's newest live version, so
      // only the per-key dedup remains (a doc may match several ways)
      .map(m =>
        if (allRowsNewestLive)
          m.select("user_id", "doc_id").dropDuplicates("user_id", "doc_id")
        else newestVersionOnly(
            m.dropDuplicates("user_id", "doc_id", "src_batch"), userIds)
          .select("user_id", "doc_id").dropDuplicates("user_id", "doc_id"))
  }

  /** Facet counts over a filtered match (the search-engine aggregation
    * surface — beyond the reference, whose term index answers membership
    * only): every live doc matching `filter`, bucketed by its
    * `facetField` attribute value, top `k` buckets by (count desc, value
    * asc). The newest live row per key supplies the attribute (a
    * re-insert may have changed it — ONE shared definition with the CDC
    * fetch, [[newestLiveRows]]).
    *
    * Scale shape: the match set stays distributed (semi-join against the
    * attribute rows BEFORE the per-key window — O(matched)), and the
    * group-count partial-aggregates every task down to its distinct
    * bucket values — output is bounded by the attribute's cardinality,
    * never the corpus. Returns `[facet_value string, n_docs long]`. */
  def facetCounts(filter: DocFilter, facetField: String, k: Int = 10,
      userIds: Seq[Any] = Nil): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val out = StructType(Seq(
      StructField("facet_value", StringType), StructField("n_docs", LongType, nullable = false)))
    (for {
      matched <- matchedDocs(filter, userIds)
      rows <- newestLiveRows(Some(matched), userIds, df =>
        Seq((if (df.columns.contains(facetField)) df(facetField).cast("string")
             else lit(null).cast("string")).as("facet_value")))
    } yield rows
      .groupBy("facet_value")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("facet_value").asc)
      .limit(k)
    ).getOrElse(coll.spark.createDataFrame(
      coll.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out))
  }

  /** Range facets over a filtered match (the ES range-aggregation
    * analogue — beyond the reference): every live doc whose NEWEST
    * version matches `filter` ([[matchedDocs]]' rule), counted into
    * caller-given half-open `[lo, hi)` buckets of the numeric attribute
    * `field` (newest live row supplies the value; nulls count nowhere;
    * buckets may overlap — each is an independent count). Returns
    * `[bucket_lo, bucket_hi, n_docs]` in the CALLER'S bucket order (the
    * ES range-aggregation contract — a client zipping its request
    * array with the counts must never get swapped associations).
    *
    * Scale shape: ONE aggregation pass over the matched rows producing a
    * single row of per-bucket sums (map-side partial aggregation; output
    * bounded by the bucket count, never the corpus) — the driver then
    * shapes that one row into bucket rows. */
  def facetRanges(filter: DocFilter, field: String,
      buckets: Seq[(Double, Double)], userIds: Seq[Any] = Nil): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    require(buckets.nonEmpty, "facetRanges: no buckets given")
    buckets.foreach { case (lo, hi) =>
      require(lo < hi, s"facetRanges: empty bucket [$lo, $hi)") }
    // schema validation (round-15 ADVICE): a typo'd or non-numeric field
    // fell into the lit(null) branch and returned all-zero counts,
    // indistinguishable from a genuinely empty match over HTTP
    require(coll.config.numericFields.exists(_.name == field),
      s"facetRanges over '$field': not a numeric attribute of collection " +
        s"'${coll.config.name}' — declare the field with kind long/double " +
        "in attributeSchema")
    val out = StructType(Seq(
      StructField("bucket_lo", DoubleType, nullable = false),
      StructField("bucket_hi", DoubleType, nullable = false),
      StructField("n_docs", LongType, nullable = false)))
    val counts: Seq[Long] = (for {
      matched <- matchedDocs(filter, userIds)
      rows <- newestLiveRows(Some(matched), userIds, df =>
        Seq((if (df.columns.contains(field)) df(field).cast("double")
             else lit(null).cast("double")).as("_v")))
    } yield {
      val aggs = buckets.zipWithIndex.map { case ((lo, hi), i) =>
        sum(when(col("_v") >= lo && col("_v") < hi, 1L).otherwise(0L))
          .as(s"_b$i")
      }
      val row = rows.agg(aggs.head, aggs.tail: _*).head()
      buckets.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    }).getOrElse(buckets.map(_ => 0L))
    coll.spark.createDataFrame(
      buckets.zip(counts).map { case ((lo, hi), n) =>
        org.apache.spark.sql.Row(lo, hi, n) }.asJava, out)
  }

  /** Term dictionary with document frequencies (the Lucene terms-enum /
    * suggester analogue — beyond the reference, whose term index answers
    * membership only): every live term key, optionally restricted to a
    * prefix (`"content:mer"`), with the number of live docs whose NEWEST
    * live version carries it (newest-wins, [[matchedDocs]]' rule), top
    * `k` by (n_docs desc, term asc). The BM25-idf introspection and
    * autocomplete primitive.
    *
    * Scale shape: flushed segments read their PERSISTED term index — the
    * per-bucket term-sorted parquet prunes row groups on the prefix via
    * min/max stats (the ProfTerms measurement), never re-analyzing text —
    * joined to live point ids; the unflushed tail re-analyzes only its
    * own bounded rows. Group-count partial-aggregates bound every task's
    * output by its distinct terms; the result is top-k. */
  def termStats(prefix: String = "", k: Int = 20, userIds: Seq[Any] = Nil): DataFrame =
    liveTermDocs(
      t => if (prefix.isEmpty) t else t.filter(col("term").startsWith(prefix)),
      userIds)
      .map(_.groupBy("term")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("term").asc)
        .limit(k))
      .getOrElse(emptyTermStats)

  /** "Did you mean" suggester (Lucene DirectSpellChecker analogue —
    * beyond the reference): live dictionary terms of `field` within
    * `maxDist` Levenshtein edits of the ANALYZED input token, ranked
    * (distance asc, n_docs desc, term asc) — closest first, popularity
    * breaking ties, the standard spell-correction order. Returns
    * `[term, distance, n_docs]`, newest-wins doc counts like
    * [[termStats]]. Same scale shape as a Fuzzy filter: an O(distinct
    * terms) dictionary scan range-pruned to the field's key range with a
    * length prefilter, never a corpus scan. */
  def suggest(field: String, input: String, k: Int = 5, maxDist: Int = 2,
      userIds: Seq[Any] = Nil): DataFrame = {
    val kw = coll.config.attributeSchema.exists(a => a.name == field && a.kind == "keyword")
    // single term per call, ENFORCED (the Near/Fuzzy rule): silently
    // correcting only the first word of "merge joni" would tell the
    // caller the whole input needs no correction
    require(kw || input.trim.split("\\s+").count(_.nonEmpty) <= 1,
      s"suggest($field): input must be a single term on a text field, " +
        s"got '$input' — suggest each word separately")
    val qts = graft.operators.FilterCompiler.queryTerms(field, input, kw,
      fieldLang.getOrElse(field, "english"))
    if (qts.isEmpty) return emptySuggest
    val fp = s"$field:"
    val token = qts.head.stripPrefix(fp)
    def tok(t: org.apache.spark.sql.Column) = // position-based strip of
      // the "field:" prefix (a token could legally contain ':')
      t.substr(lit(fp.length + 1), length(t))
    def dist(t: org.apache.spark.sql.Column) =
      levenshtein(tok(t), lit(token))
    liveTermDocs(
      t => t.filter((Seq(col("term").startsWith(fp),
          abs(length(col("term")) - lit(fp.length + token.length)) <= maxDist) ++
          // the fuzzy scan's bigram-count prefilter — skips the
          // Levenshtein DP for most dictionary rows (round-15 verdict #6)
          graft.operators.FilterCompiler.bigramPrefilter(
            tok(col("term")), token, maxDist))
        .reduce(_ && _) && dist(col("term")) <= maxDist),
      userIds)
      .map(_.groupBy("term")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("distance", dist(col("term")).cast("long"))
        .orderBy(col("distance").asc, col("n_docs").desc, col("term").asc)
        .limit(k)
        .select(col("term"), col("distance"), col("n_docs")))
      .getOrElse(emptySuggest)
  }

  private def emptyTermStats: DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    coll.spark.createDataFrame(
      coll.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("term", StringType),
        StructField("n_docs", LongType, nullable = false))))
  }

  private def emptySuggest: DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    coll.spark.createDataFrame(
      coll.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("term", StringType),
        StructField("distance", LongType, nullable = false),
        StructField("n_docs", LongType, nullable = false))))
  }

  /** Live `(user_id, term, doc_id)` rows, NEWEST-WINS and deduped, with
    * `restrict` applied to every term frame (the PERSISTED per-segment
    * index AND the re-analyzed tail) BEFORE the live-id join — the
    * shared engine of [[termStats]] and [[suggest]]. The restriction
    * lands on the term-sorted parquet scan, so prefix predicates prune
    * row groups (ProfTerms) and dictionary scans stay O(matching
    * terms). */
  private def liveTermDocs(restrict: DataFrame => DataFrame,
      userIds: Seq[Any]): Option[DataFrame] = {
    import graft.functions.GraftFunctions.term_keys
    val perSegment = segments.map { seg =>
      val ids = coll.vectorsFor(seg, userIds)
        .select("user_id", "point_id", "doc_id", "src_batch")
      var t = coll.segment(seg).terms
      if (userIds.nonEmpty) t = t.filter(col("user_id").isin(userIds: _*))
      t = restrict(t)
      var m = t.select("user_id", "term", "point_id")
        .join(ids, Seq("user_id", "point_id"))
      for (tb <- tombRows) m = Search.dropTombstoned(m, tb)
      m.select("user_id", "term", "doc_id", "src_batch")
    }
    val tailTerms = tailRows.flatMap { rows =>
      val textCols = coll.config.textFields.filter(f => rows.columns.contains(f.name))
      if (textCols.isEmpty) None
      else {
        var df = rows
        if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
        for (tb <- tombRows) df = Search.dropTombstoned(df, tb)
        Some(restrict(textCols.map { f =>
          graft.operators.Gen.explodeOnce(
            df.withColumn("_toks", Collection.fieldTokens(f.name, f.kind == "keyword", f.lang)),
            Seq(col("user_id"), col("doc_id"), col("src_batch")),
            term_keys(f.name, col("_toks")), "term")
            .select(col("user_id"), col("term"), col("doc_id"), col("src_batch"))
        }.reduce(_ unionByName _)))
      }
    }
    // NEWEST-WINS (round-14 advice, same rule as matchedDocs): n_docs
    // counts docs whose NEWEST live version carries the term — a term
    // present only on a superseded duplicate-key row contributes nothing,
    // so the dictionary agrees with the attribute values CDC/facet reads
    // report for the same docs
    (perSegment ++ tailTerms).reduceOption(_ unionByName _)
      // fast path: build-deduped terms over measured-unique keys are
      // already distinct newest-live (user, term, doc) rows
      .map(m =>
        if (allRowsNewestLive) m
        else newestVersionOnly(
            m.dropDuplicates("user_id", "term", "doc_id", "src_batch"), userIds)
          .dropDuplicates("user_id", "term", "doc_id"))
  }

  // ---- BM25 ranked retrieval (round 16; beyond the reference: its term
  // index stops at boolean membership — rs/index/src/collection/
  // snapshot.rs:114-147 returns id lists; scored text retrieval is what
  // its users reach for next) ----

  /** Live `(user_id, term, doc_id, tf)` rows for `field`, NEWEST-WINS —
    * the ranked-retrieval sibling of [[liveTermDocs]]: tf comes from the
    * persisted per-(term, point) positions on flushed segments and from a
    * re-analysis on the unflushed tail. `restrict` lands on the
    * term-sorted parquet scan BEFORE anything joins, so a query-term
    * `isin` stays a dictionary-pruned range scan (ProfTerms' measured
    * O(matching terms) discipline). NEWEST-WINS: relevance must be scored
    * against the doc version whose payload the caller will fetch —
    * scoring a superseded version's tf would rank docs by content the
    * read path no longer serves (same rule as [[matchedDocs]] /
    * [[termStats]]; membership [[termSearch]] stays any-live-version). */
  private def liveFieldTermFreqs(field: String,
      restrict: DataFrame => DataFrame,
      userIds: Seq[Any]): Option[DataFrame] = {
    val prefix = s"$field:"
    val perSegment = segments.map { seg =>
      val ids = coll.vectorsFor(seg, userIds)
        .select("user_id", "point_id", "doc_id", "src_batch")
      var t = coll.segment(seg).terms
      if (userIds.nonEmpty) t = t.filter(col("user_id").isin(userIds: _*))
      t = restrict(t.filter(col("term").startsWith(prefix)))
      var m = t.select(col("user_id"), col("term"), col("point_id"),
          size(col("positions")).cast("long").as("tf"))
        .join(ids, Seq("user_id", "point_id"))
      for (tb <- tombRows) m = Search.dropTombstoned(m, tb)
      m.select("user_id", "term", "doc_id", "tf", "src_batch")
    }
    val tailTerms = tailRows.flatMap { rows =>
      coll.config.textFields.find(_.name == field)
        .filter(f => rows.columns.contains(f.name)).map { f =>
          var df = rows
          if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
          for (tb <- tombRows) df = Search.dropTombstoned(df, tb)
          restrict(graft.operators.Gen.explodeOnce(
            df.withColumn("_toks", Collection.fieldTokens(f.name, f.kind == "keyword", f.lang)),
            Seq(col("user_id"), col("doc_id"), col("src_batch")),
            term_postings(f.name, col("_toks")), "tp")
            .select(col("user_id"), col("tp.term").as("term"), col("doc_id"),
              size(col("tp.positions")).cast("long").as("tf"),
              col("src_batch")))
        }
    }
    (perSegment ++ tailTerms).reduceOption(_ unionByName _)
      // fast path: the one segment's terms are build-deduped per
      // (user, term, point) and point↔doc is 1:1 under measured-unique
      // keys, so the rows are already distinct newest-live — both dedup
      // exchanges and the newest semi-join are identities
      .map(m =>
        if (allRowsNewestLive) m.select("user_id", "term", "doc_id", "tf")
        else newestVersionOnly(
            m.dropDuplicates("user_id", "term", "doc_id", "src_batch"), userIds)
          .dropDuplicates("user_id", "term", "doc_id")
          .select("user_id", "term", "doc_id", "tf"))
  }

  /** Live `(user_id, doc_id, dl)` doc lengths for `field`, NEWEST-WINS:
    * flushed segments read the flush-persisted `lens` table (a slim
    * one-row-per-doc-per-field norm, never re-analyzed); pre-lens
    * segments derive identical numbers from the positions column (with
    * the documented caveat that a doc whose field analyzed to ZERO tokens
    * has no term rows to derive from — it drops out of N/avgdl until a
    * rebuild, and scores nothing either way); the tail re-analyzes. */
  private def liveFieldLens(field: String, userIds: Seq[Any],
      keys: Option[DataFrame] = None): Option[DataFrame] = {
    val perSegment = segments.map { seg =>
      val ids = coll.vectorsFor(seg, userIds)
        .select("user_id", "point_id", "doc_id", "src_batch")
      var lensDf =
        if (coll.segment(seg).hasLens)
          coll.segment(seg).lens.filter(col("field") === field)
            .select("user_id", "point_id", "dl")
        else
          coll.segment(seg).terms
            .filter(col("term").startsWith(s"$field:"))
            .groupBy("user_id", "point_id")
            .agg(sum(size(col("positions"))).cast("long").as("dl"))
      if (userIds.nonEmpty) lensDf = lensDf.filter(col("user_id").isin(userIds: _*))
      var m = lensDf.join(ids, Seq("user_id", "point_id"))
      for (tb <- tombRows) m = Search.dropTombstoned(m, tb)
      m.select("user_id", "doc_id", "dl", "src_batch")
    }
    val tailLens = tailRows.flatMap { rows =>
      coll.config.textFields.find(_.name == field)
        .filter(f => rows.columns.contains(f.name)).map { f =>
          var df = rows
          if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
          for (tb <- tombRows) df = Search.dropTombstoned(df, tb)
          df.select(col("user_id"), col("doc_id"),
            size(Collection.fieldTokens(f.name, f.kind == "keyword", f.lang)).cast("long").as("dl"),
            col("src_batch"))
        }
    }
    (perSegment ++ tailLens).reduceOption(_ unionByName _)
      // `keys` pins the newest-wins machinery to the caller's doc keys
      // BEFORE the version window (the liveRowsFor O(delta) discipline):
      // the lens value of a key is independent of every other key (the
      // window partitions by it), so restricting first is result-identical
      // for those keys — and a ranked query then never pays a corpus-wide
      // window for the handful of docs its terms matched. Stats callers
      // pass None and keep the full pass.
      .map(m0 => keys.fold(m0)(k => m0.join(
          k.select("user_id", "doc_id"), Seq("user_id", "doc_id"), "left_semi")))
      // fast path: the lens table is one row per (user, point, field) by
      // construction and point↔doc is 1:1 under measured-unique keys —
      // already distinct newest-live rows
      .map(m =>
        if (allRowsNewestLive) m.select("user_id", "doc_id", "dl")
        else newestVersionOnly(
            m.dropDuplicates("user_id", "doc_id", "src_batch"), userIds)
          .dropDuplicates("user_id", "doc_id")
          .select("user_id", "doc_id", "dl"))
  }

  /** Memoized BM25 corpus statistics `(N, avgdl)` per (field, user set) —
    * index-time statistics in Lucene terms: a snapshot is immutable, so
    * one narrow aggregate over the flush-persisted lens tables serves
    * every query against it. Recomputing a corpus aggregate per search
    * would dominate the query at scale. */
  private val bm25StatsMemo = TrieMap.empty[(String, List[Any]), (Long, Double)]
  def bm25FieldStats(field: String, userIds: Seq[Any] = Nil): (Long, Double) = {
    // u128 ids are Array[Byte] — wrap for VALUE equality, or the memo
    // never hits and grows one dead entry per query on a held snapshot
    val users = userIds.map {
      case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
      case x => x
    }.toList
    bm25StatsMemo.getOrElseUpdate((field, users),
      // fast path: stats never need doc ids — under measured-unique,
      // pairwise-disjoint keys every lens row IS a live newest doc, so
      // one pruned aggregate over the (unioned) lens tables alone
      // replaces the lens⋈vectors join chain. The figures are then a pure
      // function of immutable lens tables, so every snapshot over the
      // same segments shares them (collection-scoped) and plans job-free.
      if (allRowsNewestLive && segments.forall(coll.segment(_).hasLens)) {
        coll.lensStats((segments, field, users)) {
          Search.bm25Stats(segments.map { seg =>
            var l = coll.segment(seg).lens.filter(col("field") === field)
            if (userIds.nonEmpty) l = l.filter(col("user_id").isin(userIds: _*))
            l
          }.reduce(_ unionByName _))
        }
      } else liveFieldLens(field, userIds).map(Search.bm25Stats).getOrElse((0L, 0.0)))
  }

  /** BM25-ranked full-text retrieval over the persisted term index —
    * Okapi BM25 with the Lucene constants (k1 = 1.2, b = 0.75), the
    * ranked counterpart of the boolean [[termSearch]] and the
    * collection-path twin of [[graft.operators.TextPipeline.bm25TopK]]
    * (identical formula and arithmetic shape — the two paths score
    * identically on identical content, pinned in CollectionSpec).
    *
    * The query string goes through the SAME analyzer as the index side
    * (per-field lang — the engine invariant); tf comes from the persisted
    * positions, dl from the flush-persisted lens table, (N, avgdl) from
    * the per-snapshot memo. Everything the query touches is
    * O(matched postings): the only term-table predicate is
    * `term IN (analyzed query)` — a dictionary-pruned range scan.
    *
    * Returns `[user_id, doc_id, score, n_terms_hit]`, ordered
    * (score desc, doc_id asc), top `k` — descending: BM25 is a relevance
    * score, not a distance (K4's ascending contract is for distances).
    *
    * `filter` is FILTER CONTEXT (the ES `bool.filter` / Lucene
    * FILTER-clause contract): it restricts which docs may appear in the
    * result but NEVER touches relevance — df, N, avgdl and every
    * surviving doc's score are exactly the unfiltered figures. The
    * restriction is [[matchedDocs]]' newest-wins match set (the
    * aggregation-surface rule: the doc version being scored is the one
    * the filter must match), applied as a key semi-join AFTER scoring —
    * O(matched), like the MLT exclusion. */
  def rankedSearch(field: String, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      userIds: Seq[Any] = Nil,
      filter: Option[DocFilter] = None): DataFrame = {
    val f = requireRankedField(field)
    val queryKeys = graft.operators.FilterCompiler
      .queryTerms(field, query, f.kind == "keyword", f.lang).distinct
    if (queryKeys.isEmpty) coll.spark.emptyDataFrame
    else rankedByKeys(field, queryKeys, k, k1, b, userIds,
      excludeKeys = None, restrictKeys = filter.flatMap(matchedDocs(_, userIds)))
  }

  /** The ranked-retrieval field contract: a declared text/keyword
    * attribute over positions-bearing segments (tf derives from
    * positions — pre-positions segments must rebuild first, the
    * requirePositions discipline with BM25's wording). */
  private def requireRankedField(field: String): AttrField = {
    val f = coll.config.textFields.find(_.name == field).getOrElse(throw
      new IllegalArgumentException(
        s"rankedSearch: '$field' is not a text/keyword attribute of " +
          s"collection '${coll.config.name}' — declared text fields: " +
          (coll.config.textFields.map(_.name) match {
            case Nil => "(none)"; case fs => fs.mkString(", ") })))
    val missing = segments.filterNot(coll.segment(_).hasPositions)
    require(missing.isEmpty,
      s"BM25 ranked search derives term frequencies from per-(term, point) " +
        s"positions, but segment(s) ${missing.mkString(", ")} of collection " +
        s"'${coll.config.name}' were flushed before the positions column " +
        "landed — rebuild them (coll.merge() / mergeSmallest / POST /optimize)")
    f
  }

  /** The full BM25 match set for PRE-ANALYZED query keys — unordered and
    * unlimited `[user_id, doc_id, score, n_terms_hit]` (score rounded
    * HALF-UP 4), the shared core of [[rankedSearch]], [[moreLikeThis]]
    * and [[rankedSearchFields]]. None when the snapshot holds no rows. */
  /** Bucket-aware dictionary restriction for literal term keys
    * (FilterCompiler.termScan's shape): each disjunct's term_bucket
    * predicate constant-folds, so the scan prunes to |keys| of
    * Collection.termBuckets directories before the sorted-term row-group
    * pruning. Beyond 32 keys the OR chain stops paying (most buckets
    * covered anyway) — plain isin. Shared by [[scoreByKeys]] and
    * [[moreLikeThis]]' doc-frequency pass (round 17 — the df scan used
    * plain isin and missed the directory pruning). */
  private def termKeyRestrict(keys: Seq[String]): DataFrame => DataFrame = t =>
    if (t.columns.contains("term_bucket") && keys.size <= 32)
      t.filter(keys.map(qt =>
        col("term_bucket") === pmod(xxhash64(lit(qt)),
          lit(Collection.termBuckets)) && col("term") === lit(qt))
        .reduce(_ || _))
    else t.filter(col("term").isin(keys: _*))

  private def scoreByKeys(field: String, queryKeys: Seq[String],
      k1: Double, b: Double, userIds: Seq[Any]): Option[DataFrame] = {
    val restrict = termKeyRestrict(queryKeys)
    val (n, avgdl) = bm25FieldStats(field, userIds)
    // fast path: under measured-unique keys point↔doc is 1:1, so the
    // whole match can score on POINT ids straight off the two persisted
    // tables (dictionary-pruned terms scan ⋈ lens on point_id — the same
    // arithmetic, the grouping key renamed) and map point→doc ONCE on the
    // O(matched docs) output, instead of joining the vectors table into
    // both the tf and the lens subtree. Identical scores: df counts and
    // the per-doc aggregate group identically under a 1:1 key rename.
    // SINGLE-segment only: point ids are per-segment, so a multi-segment
    // union could cross-match one segment's tf with another's lens —
    // multi-segment allRowsNewestLive snapshots take the else branch,
    // which still skips every window/dedup but keys on doc ids.
    if (allRowsNewestLive && segments.size == 1 &&
        coll.segment(segments.head).hasLens) {
      val seg = segments.head
      val v = coll.vectorsFor(seg, userIds)
      var t = coll.segment(seg).terms
      if (userIds.nonEmpty) t = t.filter(col("user_id").isin(userIds: _*))
      t = restrict(t.filter(col("term").startsWith(s"$field:")))
      val tfs = t.select(col("user_id"), col("term"),
        col("point_id").as("doc_id"), size(col("positions")).cast("long").as("tf"))
      var l = coll.segment(seg).lens.filter(col("field") === field)
      if (userIds.nonEmpty) l = l.filter(col("user_id").isin(userIds: _*))
      val lens = l.select(col("user_id"), col("point_id").as("doc_id"), col("dl"))
      Some(Search.bm25Score(tfs, lens, queryKeys, n, avgdl, k1, b)
        .withColumnRenamed("doc_id", "point_id")
        .join(v.select("user_id", "point_id", "doc_id"), Seq("user_id", "point_id"))
        .select("user_id", "doc_id", "score", "n_terms_hit"))
    } else for {
      tfs <- liveFieldTermFreqs(field, restrict, userIds)
      // lens restricted to an ANY-VERSION term-match key superset BEFORE
      // its newest-wins window: bm25Score inner-joins lens on the
      // newest-wins tf keys (a subset — any newest-wins match is an
      // any-version match), so the join output is identical, but the main
      // action no longer windows the corpus for the handful of docs the
      // query terms touched. The superset is deliberately window-free and
      // tombstone-free — just the dictionary-pruned scan joined to ids —
      // so the keys subtree stays a fraction of the tf plan.
      lens <- liveFieldLens(field, userIds,
        keys = if (allRowsNewestLive) None // window already skipped — the
          // restriction subtree would only add exchanges (pre-lens segment)
          else fieldTermMatchKeys(field, restrict, userIds))
    } yield Search.bm25Score(tfs, lens, queryKeys, n, avgdl, k1, b)
  }

  /** Doc keys carrying at least one `restrict`-surviving term of `field`
    * in ANY live-or-superseded version — a cheap SUPERSET of
    * [[liveFieldTermFreqs]]' newest-wins doc keys (no tombstone drop, no
    * version window): the key restriction [[liveFieldLens]] pins its
    * newest-wins machinery to. Tail rows contribute their keys
    * unrestricted (re-analyzing the tail just to shrink a superset would
    * cost more than the extra lens keys). */
  private def fieldTermMatchKeys(field: String,
      restrict: DataFrame => DataFrame,
      userIds: Seq[Any]): Option[DataFrame] = {
    val prefix = s"$field:"
    val perSegment = segments.map { seg =>
      val v = coll.vectorsFor(seg, userIds)
      var t = coll.segment(seg).terms
      if (userIds.nonEmpty) t = t.filter(col("user_id").isin(userIds: _*))
      restrict(t.filter(col("term").startsWith(prefix)))
        .select("user_id", "point_id")
        .join(v.select("user_id", "point_id", "doc_id"), Seq("user_id", "point_id"))
        .select("user_id", "doc_id")
    }
    val tailKeys = tailRows.map { rows =>
      var df = rows
      if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
      df.select("user_id", "doc_id")
    }
    (perSegment ++ tailKeys).reduceOption(_ unionByName _)
  }

  /** [[scoreByKeys]] + MLT's exclusion + filter context + the retrieval
    * order/limit. `excludeKeys` drops those `[user_id, doc_id]` rows from
    * the RESULT only, after scoring — df/N/avgdl still count them
    * (Lucene's MLT contract). `restrictKeys` keeps ONLY those keys
    * (filter context, same after-scoring discipline). */
  private def rankedByKeys(field: String, queryKeys: Seq[String], k: Int,
      k1: Double, b: Double, userIds: Seq[Any],
      excludeKeys: Option[DataFrame],
      restrictKeys: Option[DataFrame] = None): DataFrame =
    scoreByKeys(field, queryKeys, k1, b, userIds).map { scored =>
      val excluded = excludeKeys.fold(scored)(e => scored.join(
        e.select("user_id", "doc_id"), Seq("user_id", "doc_id"), "left_anti"))
      restrictKeys.fold(excluded)(r => excluded.join(
          r.select("user_id", "doc_id"), Seq("user_id", "doc_id"), "left_semi"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
    }.getOrElse(coll.spark.emptyDataFrame)

  /** Multi-field boosted ranked retrieval (the ES `multi_match` /
    * Lucene query-time field-boost shape): each field scores its own
    * BM25 — its own analyzer, df, N and avgdl — and a doc's combined
    * relevance is `round(Σ_f boost_f · score_f, 4)` over the per-field
    * ROUNDED scores (so each field's figure is exactly its
    * single-field [[rankedSearch]] score, and a SQL replay composes the
    * per-field derivations verbatim). Fields absent from a doc simply
    * contribute nothing — the union/aggregate fuse, never an outer-join
    * chain (the rrfFuse posture). `n_fields_hit` counts the fields that
    * matched. Returns `[user_id, doc_id, score, n_fields_hit]`,
    * (score desc, doc_id asc), top `k`. `filter` is filter context
    * (the [[rankedSearch]] contract — restricts the result set, never
    * the per-field scores or stats), applied as one semi-join before
    * the combine aggregate. */
  def rankedSearchFields(fields: Seq[(String, Double)], query: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      userIds: Seq[Any] = Nil,
      filter: Option[DocFilter] = None): DataFrame = {
    require(fields.nonEmpty, "rankedSearchFields: no fields")
    val parts = fields.flatMap { case (field, w) =>
      val f = requireRankedField(field)
      val keys = graft.operators.FilterCompiler
        .queryTerms(field, query, f.kind == "keyword", f.lang).distinct
      if (keys.isEmpty) None
      else scoreByKeys(field, keys, k1, b, userIds).map(
        _.select(col("user_id"), col("doc_id"),
          (lit(w) * col("score")).as("contrib")))
    }
    if (parts.isEmpty) coll.spark.emptyDataFrame
    else filter.flatMap(matchedDocs(_, userIds)).fold(
        parts.reduce(_ unionByName _))(r =>
        parts.reduce(_ unionByName _).join(
          r.select("user_id", "doc_id"), Seq("user_id", "doc_id"), "left_semi"))
      .groupBy("user_id", "doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"),
        count(lit(1)).as("n_fields_hit"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Hybrid lexical+vector retrieval over ONE collection (the ES
    * kNN+BM25 hybrid / RRF shape — beyond the reference, whose "hybrid"
    * is ANN∧filter): fuse the top-`window` of [[rankedSearch]] (BM25,
    * rounded-4 scores, desc) with the top-`window` of [[search]] (L2,
    * raw distances, asc) by reciprocal-rank fusion —
    * `Σ_lists 1/(rrfK + rank)`, rounded HALF-UP 6 (the
    * [[graft.operators.Search.rrfFuse]] arithmetic, keyed on the full
    * (user_id, doc_id) identity so u128/multi-tenant ids fuse
    * correctly). `filter` applies to BOTH lists: filter context on the
    * lexical side, the engine's native pre-filter on the ANN side.
    *
    * Scale shape: each list is a bounded top-`window` retrieval (the
    * engine's own pruned paths); ranking rides a window over ≤`window`
    * rows (the bounded-frame precedent) and the fuse is one bounded
    * union + groupBy. Returns `[user_id, doc_id, rrf_score, n_lists]`,
    * (rrf_score desc, doc_id asc), top `k`. */
  def hybridSearch(field: String, query: String, queryVec: Seq[Double],
      k: Int, window: Int = 50, rrfK: Int = 60,
      params: SearchParams = SearchParams(), userIds: Seq[Any] = Nil,
      filter: Option[DocFilter] = None): DataFrame = {
    require(k > 0 && window >= k,
      s"hybridSearch: need window >= k > 0 (window=$window, k=$k)")
    import org.apache.spark.sql.expressions.{Window => W}
    // deterministic ranks: BM25 by its ROUNDED score (desc) — replayable;
    // vector by the RAW distance (asc) — the q93 raw-selection posture
    // (rounding the selection key would let round-boundary ties flip
    // window membership)
    val lex = rankedSearch(field, query, window, userIds = userIds,
        filter = filter)
      .select(col("user_id"), col("doc_id"), row_number().over(
        W.orderBy(col("score").desc, col("doc_id").asc)).as("rank"))
    val ann = search(queryVec, params.copy(topK = window), userIds, filter)
      .select(col("user_id"), col("doc_id"), row_number().over(
        W.orderBy(col("score").asc, col("doc_id").asc)).as("rank"))
    Seq(lex, ann)
      .map(_.select(col("user_id"), col("doc_id"),
        (lit(1.0) / (lit(rrfK) + col("rank").cast("double"))).as("contrib")))
      .reduce(_ unionByName _)
      .groupBy("user_id", "doc_id")
      .agg(round(sum(col("contrib")), 6).as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** More-like-this over the collection index (Lucene `MoreLikeThis` /
    * ES `more_like_this`, the [[graft.operators.TextPipeline.moreLikeThis]]
    * twin on the persisted index): profile the SEED doc's newest live
    * `field` value by its `m` most distinctive terms — the same smoothed
    * tf-idf, HALF-UP-4-rounded ranks and term-asc ties as the pipeline
    * path — then BM25-retrieve those terms with the seed excluded (after
    * scoring: df/N/avgdl still count it).
    *
    * `seedKeys` is a one-row `[user_id, doc_id]` frame (any id type —
    * long or u128 binary). Scale shape: the seed fetch is the CDC
    * O(delta) path (key semi-join BEFORE the newest-row window); its
    * analyzed vocabulary bounds both driver collects; the profile's df
    * pass and the retrieval are dictionary-restricted scans. */
  def moreLikeThis(field: String, seedKeys: DataFrame, m: Int = 5,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      userIds: Seq[Any] = Nil,
      filter: Option[DocFilter] = None): DataFrame = {
    require(m > 0 && k > 0, s"moreLikeThis: m and k must be positive (m=$m, k=$k)")
    val f = requireRankedField(field)
    // the seed's newest live field value — O(seed), never O(corpus)
    val seedRows = newestLiveRows(Some(seedKeys), userIds, df =>
        Seq((if (df.columns.contains(field)) col(field).cast("string")
             else lit(null).cast("string")).as("_mlt_text")))
      .map(_.select(col("_mlt_text")).collect()).getOrElse(Array.empty)
    require(seedRows.length == 1,
      s"moreLikeThis: expected exactly one live seed row for the given " +
        s"key, found ${seedRows.length}")
    val text = Option(seedRows.head.getString(0)).getOrElse("")
    // index-side analysis via the shared query-terms path (duplicates
    // preserved -> tf); the profile never re-stems
    val termsAll = graft.operators.FilterCompiler
      .queryTerms(field, text, f.kind == "keyword", f.lang)
    require(termsAll.nonEmpty,
      s"moreLikeThis: the seed doc has no terms in '$field'")
    val seedTf: Map[String, Long] =
      termsAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val termKeys = seedTf.keys.toSeq
    // newest-wins doc frequencies for the seed's vocabulary — one
    // dictionary-restricted scan, O(matched); bucket-aware like the
    // retrieval's own restriction (round 17: plain isin skipped the
    // term_bucket directory pruning this scan is entitled to)
    val dfMap: Map[String, Long] =
      liveFieldTermFreqs(field, termKeyRestrict(termKeys), userIds)
        .map(_.groupBy("term").agg(count(lit(1)).as("df"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty)
    val (n, _) = bm25FieldStats(field, userIds)
    // rounded smoothed tf-idf, (score desc, term asc) — the q43/q127
    // discipline, so a SQL replay agrees on the profile cut
    val profile = seedTf.toSeq.map { case (t, tf) =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      val sc = BigDecimal(tf.toDouble *
          (math.log((n + 1.0) / (df + 1.0)) + 1.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (t, sc)
    }.sortBy { case (t, sc) => (-sc, t) }.take(m).map(_._1)
    // `filter` is filter context (the rankedSearch contract): profile
    // selection, df and stats above are all UNFILTERED — it only
    // restricts which similar docs may be returned
    rankedByKeys(field, profile, k, k1, b, userIds,
      excludeKeys = Some(seedKeys),
      restrictKeys = filter.flatMap(matchedDocs(_, userIds)))
  }

  /** Term/attribute MEMBERSHIP search: live docs matching `filter`,
    * ordered by doc id, top `limit`.
    *
    * Semantics note: membership is ANY-LIVE-VERSION — a doc re-inserted
    * without a delete is returned if ANY of its live physical rows
    * matches, the reference's term-index behavior (its index has no
    * version concept). Aggregations over matches ([[matchedDocs]] /
    * [[facetCounts]] / [[termStats]]) are NEWEST-WINS instead, so counts
    * agree with the attribute values [[newestLiveRows]] reports; a
    * retrieval surface returning the doc at all is useful (the caller
    * fetches the newest payload), a count of superseded content is not. */
  def termSearch(filter: DocFilter, limit: Int, userIds: Seq[Any] = Nil): DataFrame = {
    val nf = norm(filter)
    requirePositions(nf)
    requireNumericFields(nf)
    val perSegment = segments.map { seg =>
      val v = coll.vectorsFor(seg, userIds)
      val idCols = Seq("user_id", "point_id", "doc_id", "src_batch") ++
        coll.config.numericFields.map(_.name).filter(v.columns.contains)
      Search.termSearch(
        coll.segment(seg).terms,
        v.select(idCols.map(col): _*),
        nf, limit, userIds, tombRows, fieldLang)
    }
    val tailResult = tailRows.map { rows =>
      var df = rows
      if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
      df = df.filter(compileRaw(nf, df))
      for (tb <- tombRows) // deleted tail docs stay hidden (R6)
        df = Search.dropTombstoned(df, tb)
      df.select("user_id", "doc_id")
    }
    val all = (perSegment.map(_.select("user_id", "doc_id")) ++ tailResult)
    all.reduceOption(_ unionByName _)
      .map(_.dropDuplicates("user_id", "doc_id").orderBy("doc_id").limit(limit))
      .getOrElse(coll.spark.emptyDataFrame)
  }

  /** Compile a DocFilter directly against raw attribute columns (tail path:
    * no term index exists yet, so Contains tokenizes the text column). */
  private def compileRaw(f: DocFilter, df: DataFrame): org.apache.spark.sql.Column = f match {
    case DocFilter.And(cs) => cs.map(compileRaw(_, df)).reduceOption(_ && _).getOrElse(lit(true))
    case DocFilter.Or(cs) => cs.map(compileRaw(_, df)).reduceOption(_ || _).getOrElse(lit(false))
    // point ids are assigned at flush, so an Ids filter can never match the
    // unflushed tail — exclude it (was lit(true): superset semantics bug)
    case DocFilter.Ids(_) => lit(false)
    case DocFilter.Contains(field, value, kw) =>
      val lang = coll.config.attributeSchema.find(_.name == field).map(_.lang).getOrElse("english")
      val docToks = Collection.fieldTokens(field, kw, lang)
      val qts = graft.operators.FilterCompiler.queryTerms(field, value, kw, lang)
        .map(_.stripPrefix(s"$field:"))
      if (qts.isEmpty) lit(false)
      else qts.map(t => array_contains(docToks, t)).reduce(_ && _)
    case DocFilter.NotContains(field, value, kw) =>
      !compileRaw(DocFilter.Contains(field, value, kw), df)
    case DocFilter.Phrase(field, value, kw) =>
      // consecutive-window scan over the analyzed tail tokens; the
      // when() guard keeps the descending-sequence/0-index hazards of
      // short documents out (CaseWhen branches evaluate lazily per row)
      val lang = coll.config.attributeSchema.find(_.name == field).map(_.lang).getOrElse("english")
      val docToks = Collection.fieldTokens(field, kw, lang)
      val qts = graft.operators.FilterCompiler.queryTerms(field, value, kw, lang)
        .map(_.stripPrefix(s"$field:"))
      if (qts.isEmpty) lit(false)
      else if (qts.size == 1) array_contains(docToks, qts.head)
      else {
        // docToks re-evaluates inside the lambda per window index — fine
        // here and only here: the tail is bounded (unflushed batches) and
        // the stemmer memoizes per token, so the per-element cost is a
        // dictionary hit. Flushed segments take the positions-join path.
        val n = qts.size
        when(size(docToks) >= n,
          exists(sequence(lit(0), size(docToks) - n), i =>
            qts.zipWithIndex.map { case (t, j) =>
              element_at(docToks, i + j + 1) === t
            }.reduce(_ && _)))
          .otherwise(lit(false))
      }
    case DocFilter.Near(field, l, r, w) =>
      val lang = coll.config.attributeSchema.find(_.name == field).map(_.lang).getOrElse("english")
      val docToks = Collection.fieldTokens(field, keyword = false, lang)
      val lt = graft.operators.FilterCompiler.queryTerms(field, l, keyword = false, lang)
        .map(_.stripPrefix(s"$field:"))
      val rt = graft.operators.FilterCompiler.queryTerms(field, r, keyword = false, lang)
        .map(_.stripPrefix(s"$field:"))
      if (lt.isEmpty || rt.isEmpty) lit(false)
      else when(size(docToks) > 0,
        exists(sequence(lit(0), size(docToks) - 1), i =>
          element_at(docToks, i + 1) === lt.head &&
            exists(sequence(greatest(i - w, lit(0)),
              least(i + w, size(docToks) - 1)),
              j => element_at(docToks, j + 1) === rt.head)))
        .otherwise(lit(false))
    case DocFilter.Prefix(field, value, kw) =>
      // tail mirror of the dictionary prefix scan: the fragment stays
      // UNanalyzed (lowercase only), matched against the same analyzed
      // tokens the index side would store
      val lang = coll.config.attributeSchema.find(_.name == field).map(_.lang).getOrElse("english")
      val docToks = Collection.fieldTokens(field, kw, lang)
      exists(docToks, t => t.startsWith(value.trim.toLowerCase))
    case DocFilter.Fuzzy(field, value, d, kw, pl) =>
      val lang = coll.config.attributeSchema.find(_.name == field).map(_.lang).getOrElse("english")
      val docToks = Collection.fieldTokens(field, kw, lang)
      val qts = graft.operators.FilterCompiler.queryTerms(field, value, kw, lang)
        .map(_.stripPrefix(s"$field:"))
      if (qts.isEmpty) lit(false)
      else exists(docToks, t =>
        t.startsWith(qts.head.take(pl)) && levenshtein(t, lit(qts.head)) <= d)
    case DocFilter.Wildcard(field, pat, kw) =>
      compileRaw(DocFilter.Regex(field, DocFilter.wildcardToRegex(pat), kw), df)
    case DocFilter.Regex(field, pat, kw) =>
      val lang = coll.config.attributeSchema.find(_.name == field).map(_.lang).getOrElse("english")
      val docToks = Collection.fieldTokens(field, kw, lang)
      exists(docToks, t => t.rlike(s"^(?:$pat)$$"))
    case DocFilter.Range(field, lo, hi) =>
      if (!df.columns.contains(field)) lit(false)
      else (lo.map(v => col(field) >= v) ++ hi.map(v => col(field) <= v))
        .reduceOption(_ && _).getOrElse(lit(true))
  }
}
