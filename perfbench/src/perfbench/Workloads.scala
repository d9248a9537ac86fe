package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The generator's own view of what is live: the correctness oracle. */
final class Oracle {
  private val live = mutable.LinkedHashMap.empty[String, Memory]
  val removed: mutable.Set[String] = mutable.HashSet.empty[String]
  private var byUser: Map[Int, Vector[Memory]] = Map.empty

  def add(ms: Seq[Memory]): Unit = { ms.foreach(m => live(m.docId) = m); byUser = Map.empty }
  private val removedMems = mutable.ArrayBuffer.empty[Memory]
  def remove(ids: Seq[String]): Unit = {
    ids.foreach { id => live.remove(id).foreach(removedMems += _); removed += id }
    byUser = Map.empty
  }
  /** The user's removed memories, in removal order. */
  def removedOf(u: Int): Seq[Memory] = removedMems.filter(_.user == u).toSeq
  def size: Int = live.size
  def liveBytes: Long = live.valuesIterator.map(_.userBytes).sum
  def userLive(u: Int): Vector[Memory] = {
    if (byUser.isEmpty) byUser = live.values.toVector.groupBy(_.user).withDefaultValue(Vector.empty)
    byUser(u)
  }
  def get(id: String): Option[Memory] = live.get(id)

  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Exact top-k by L2 over the user's live memories (of `kind`, if set). */
  def exactTopK(u: Int, q: Array[Float], kind: String, k: Int): Seq[String] =
    userLive(u).filter(m => kind.isEmpty || m.kind == kind)
      .map(m => (dist(q, m.vector), m.docId)).sorted.take(k).map(_._2)

  /** The first `k` ids, in id order, of the user's live memories holding `word`. */
  def termTop(u: Int, word: String, k: Int): Seq[String] =
    userLive(u).filter(_.tokens.contains(word)).map(_.docId).sorted.take(k)
}

/** Samples and the failure count of one run. */
final class Rec {
  private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]
  val recallHits = new AtomicLong
  val recallTotal = new AtomicLong
  val scalars = new java.util.concurrent.ConcurrentHashMap[String, Any]

  def add(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]).add(v)
  def get(name: String): Seq[Double] =
    Option(samples.get(name)).fold(Seq.empty[Double])(_.asScala.toSeq)
  def names: Seq[String] = samples.keySet.asScala.toSeq.sorted

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg)
  }

  /** Runs one operation, counting it and any exception as a failure. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted.incrementAndGet()
    try Some(body)
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }
}

/** Correctness checks shared by the workloads. */
final class Checks(oracle: Oracle, rec: Rec) {
  def check(ok: Boolean, msg: => String): Unit = if (!ok) rec.fail(msg)

  /** Checks one read's answer; vector answers also add to recall@10. */
  def read(u: Int, op: String, vec: Array[Float], kind: String, text: String, h: Hits,
      where: String, recall: Boolean = true): Unit = {
    val mine = oracle.userLive(u).map(_.docId).toSet
    check(h.ids.distinct.size == h.ids.size, s"$where $op: duplicate ids")
    check(h.ids.size <= Gen.TopK, s"$where $op: ${h.ids.size} results")
    h.ids.find(oracle.removed).foreach(id => rec.fail(s"$where $op returned removed $id"))
    h.ids.find(id => !mine(id) && !oracle.removed(id))
      .foreach(id => rec.fail(s"$where $op returned $id, not a live memory of user $u"))
    op match {
      case "vector" | "filtered" =>
        if (kind.nonEmpty)
          check(h.ids.forall(id => oracle.get(id).forall(_.kind == kind)), s"$where filtered: wrong kind")
        if (recall) {
          val exact = oracle.exactTopK(u, vec, kind, Gen.TopK)
          rec.recallHits.addAndGet(h.ids.count(exact.toSet).toLong)
          rec.recallTotal.addAndGet(exact.size.toLong)
        }
      case "term" =>
        val exact = oracle.termTop(u, text, Gen.TopK)
        check(h.ids == exact, s"$where term '$text': got ${h.ids.size} ids, expected ${exact.size}")
      case "ranked" =>
        val words = text.split(' ').toSet
        check(h.ids.forall(id => oracle.get(id).forall(_.tokens.exists(words))),
          s"$where ranked '$text': a result holds no query term")
        check(h.scores.zip(h.scores.drop(1)).forall { case (a, b) => a >= b },
          s"$where ranked: scores not descending")
      case _ =>
    }
  }
}

object Workloads {
  val Users = 4
  val CollectionName = "memories"
  val Reasons: Map[String, String] = Map(
    "hot-compacted" -> ("a collection folded by merge() into one segment with inert " +
      "tombstones: the Spark read fast path, and served recall from in-memory views"),
    "ingest-compact" -> ("continual saves: insert, remove, flush, optimizer tick and expiry " +
      "with maxNumberOfSegments=2, and read-your-writes recall right after each write"))
  /** Served requests per `--seconds`; query-phase op cycles and ingest
    * rounds are one per 10 and 15 seconds, at least one. These fixed counts
    * take about `--seconds` on 4 cores and fix the tail percentiles. */
  val ServedPerSecond = 800
  /** Served requests at each ingest recall point: untimed warm-up, then
    * timed turns of hot-compacted's turn size. */
  val RecallWarm = 1600
  val RecallTurns = 3
  val RecallTurn = 1600
  /** Served requests per tail window. `served_tail_ms` is the median over
    * the windows of each window's tail, its p95 (20 samples beyond): one
    * stall of the shared host then moves one window's tail, not the figure. */
  val TailWindow = 400

  /** Two closed-loop clients taking requests 0 until `n` in turn. */
  private[perfbench] def servedClients(n: Int, send: Int => Unit): Unit = {
    val next = new AtomicInteger(0)
    val clients = (0 until 2).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) { send(i); i = next.getAndIncrement() }
      })
      th.start()
      th
    }
    clients.foreach(_.join())
  }

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Setup, then a served phase (2 closed-loop clients through serveUser)
    * and a query phase (1 closed-loop client through the Spark paths), in
    * turns, on a collection that never changes. */
  def hotCompacted(ctx: Ctx): Unit = {
    import ctx._
    val setupStart = System.nanoTime()
    createCollection(maxSegments = 10)
    val base = gen.memories(600)
    val late = gen.memories(150)
    base.grouped(150).foreach(ms => write("insert", "insert_s")(client.insert(ms, gen.userIds)))
    oracle.add(base)
    write("flush", "flush_s")(client.flush())
    write("insert", "insert_s")(client.insert(late, gen.userIds))
    oracle.add(late)
    val r = new java.util.Random(gen.seed ^ 0x5EED)
    val victims = (0 until Users).flatMap { u =>
      val mine = base.filter(_.user == u)
      Seq.fill(2)(mine(r.nextInt(mine.size)).docId)
    }.distinct
    write("remove")(client.remove(gen.userIds, victims))
    oracle.remove(victims)
    write("flush", "flush_s")(client.flush())
    rec.add("compact_s",
      write("merge")(check(client.compact(full = true), "merge did not merge")) + expire())
    rec.scalars.put("docs_acked", (base.size + late.size).toLong)
    rec.scalars.put("space_amp", spaceAmp())
    // first recall of each user after the writes: builds the served views
    (0 until Users).foreach { u =>
      val saved = late.find(_.user == u).orElse(oracle.userLive(u).headOption).get
      freshRecall(u, saved)
    }
    val stream = gen.readStream(ServedPerSecond * seconds)
    // warm-up of the Spark path: the vector and BM25 plans (the other ops
    // reuse their parts), keeping set-up inside the run budget
    stream.take(Gen.Ops.size).filter(q => q.op == "vector" || q.op == "ranked")
      .foreach(q => read("warm-up query", q, served = false))
    rec.add("setup_s", secondsSince(setupStart))

    // served warm-up (JIT), then the two phases in turns that never
    // overlap: a served chunk (2 clients sharing the request stream), one
    // Spark query (1 client), ... so that both are measured across the
    // whole phase time rather than in one burst
    servedWarm(stream.take(stream.size / 2))
    val nQuery = Gen.Ops.size * math.max(1, seconds / 10)
    val chunk = stream.size / nQuery
    (0 until nQuery).foreach { i =>
      servedTurn(stream.slice(i * chunk, (i + 1) * chunk), "served")
      val q = stream(i)
      val h = read("query", q, served = false, sample = s"query_ms.${q.op}")
      // served and Spark BM25 must agree exactly (same formula, same rounding)
      if (q.op == "ranked") h.foreach { got =>
        rec.op("served ranked")(client.served(gen.userIds(q.user), q.op, q.vector, q.kind, q.text))
          .foreach(s => check(s == got,
            s"ranked '${q.text}': served ${s.ids.zip(s.scores)} != Spark ${got.ids.zip(got.scores)}"))
      }
    }
    rec.scalars.put("repeats", stream.count(_.repeatOf >= 0).toLong)
    rec.scalars.put("reads", stream.size.toLong)
  }

  /** One writer running rounds of inserts, a remove, a flush, an optimizer
    * tick and an expiry, with read-your-writes recalls after the inserts
    * and again after the compaction. */
  def ingestCompact(ctx: Ctx): Unit = {
    import ctx._
    val setupStart = System.nanoTime()
    createCollection(maxSegments = 2)
    // two segments to start from; their writes are samples too, but not
    // part of the rounds' write throughput
    Seq(200, 30).foreach { n =>
      val ms = gen.memories(n)
      write("insert", "insert_s", rounds = false)(client.insert(ms, gen.userIds))
      oracle.add(ms)
      write("flush", "flush_s", rounds = false)(client.flush())
    }
    // warm-up: served requests of every op (JIT) and a Spark search
    val own = oracle.userLive(0)
    (0 until 2000).foreach(i =>
      read("warm-up served", about(own(i % own.size), Gen.Ops(i % Gen.Ops.size)), served = true,
        recall = false))
    read("warm-up query", ReadRequest(-1, 0, "vector", own.head.vector, "", "", -1), served = false)
    rec.add("setup_s", secondsSince(setupStart))

    val rounds = math.max(1, seconds / 15)
    var acked = 0L
    (0 until rounds).foreach { round =>
      // users take rounds in Zipf rank order, hottest first: served and
      // view-rebuild costs grow with the user's memories, so a seeded
      // choice of user would dominate their run-to-run spread
      val u = round % Users
      val batches = (0 until 3).map { b =>
        val ms = gen.memories(20)
        if (b == 0) gen.memory(u) +: ms.tail else ms
      }
      batches.foreach { ms =>
        write("insert", "insert_s")(client.insert(ms, gen.userIds))
        oracle.add(ms)
        acked += ms.size
      }
      val saved = batches.head.head
      // Spark-path recalls: the just-saved memory and another one saved
      // this round here; the user's oldest live memory after compaction
      recallPoint(u, saved, Seq(saved, batches(1).head))
      val older = oracle.userLive(u).filterNot(m => batches.exists(_.exists(_.docId == m.docId)))
      val victims = (batches.flatten.filter(m => m.user == u && m.docId != saved.docId).take(1) ++
        older.take(1)).map(_.docId)
      write("remove")(client.remove(Seq(gen.userIds(u)), victims))
      oracle.remove(victims)
      write("flush", "flush_s")(client.flush())
      rec.add("compact_s",
        write("maybeCompact")(if (client.compact(full = false)) rec.add("merges", 1.0)) + expire())
      recallPoint(u, saved, Seq(oracle.userLive(u).head))
    }
    rec.scalars.put("docs_acked", acked)
    rec.scalars.put("rounds", rounds.toLong)
    rec.scalars.put("space_amp", spaceAmp())
    // the collection reopened from disk in a fresh catalog holds exactly the live memories
    rec.op("reopen") {
      val reopened = graft.core.Collection.openPersisted(spark, basePath, CollectionName)
      val n = reopened.snapshot().liveDocs.fold(0L)(_.count())
      check(n == oracle.size, s"reopened collection holds $n live memories, expected ${oracle.size}")
    }
  }
}

/** What one workload run shares: Spark, the service, the client, the
  * oracle and the recorder. */
final class Ctx(val spark: org.apache.spark.sql.SparkSession, val basePath: String,
    val gen: Gen, val seconds: Int, val tracer: Option[Tracer]) {
  import Workloads.CollectionName
  val svc = new graft.api.GraftService(spark, basePath)
  val oracle = new Oracle
  val rec = new Rec
  val checks = new Checks(oracle, rec)
  lazy val client = new Client(spark, svc, CollectionName, tracer)
  def collDir: java.nio.file.Path = java.nio.file.Paths.get(basePath, CollectionName)

  def createCollection(maxSegments: Int): Unit =
    svc.createCollection(graft.core.CollectionConfig(CollectionName, Gen.Dim,
      maxNumberOfSegments = maxSegments,
      attributeSchema = Seq(graft.core.AttrField(Client.Field, "text", "english"),
        graft.core.AttrField("kind", "keyword", "none"))))

  def check(ok: Boolean, msg: => String): Unit = checks.check(ok, msg)

  /** A timed write, counted as an operation: its seconds go to `sample`
    * (if set) and, with `rounds`, to the writer total. Returns the seconds. */
  def write(what: String, sample: String = "", rounds: Boolean = true)(body: => Any): Double = {
    val t0 = System.nanoTime()
    rec.op(what)(body)
    val s = (System.nanoTime() - t0) / 1e9
    if (sample.nonEmpty) rec.add(sample, s)
    if (rounds) rec.add("writer_s", s)
    s
  }

  /** `expireVersions(keep = 2)`, after a GC: snapshots pin their TOC
    * version through weak references, so without it what expiry may delete
    * would depend on when the JVM last collected. */
  def expire(): Double = {
    System.gc()
    write("expire")(client.expire())
  }

  /** Bytes on disk per live user byte. */
  def spaceAmp(): Double = DirBytes.total(collDir).toDouble / oracle.liveBytes

  /** One read request, checked against the oracle. */
  def read(where: String, q: ReadRequest, served: Boolean, sample: String = "",
      recall: Boolean = true): Option[Hits] = {
    val user = gen.userIds(q.user)
    val t0 = System.nanoTime()
    val h = rec.op(s"$where ${q.op}") {
      if (served) client.served(user, q.op, q.vector, q.kind, q.text)
      else client.query(user, q.op, q.vector, q.kind, q.text)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (sample.nonEmpty) rec.add(sample, ms)
    h.foreach(checks.read(q.user, q.op, q.vector, q.kind, q.text, _, where, recall))
    h
  }

  /** Untimed served requests from two closed-loop clients (JIT warm-up). */
  def servedWarm(reqs: IndexedSeq[ReadRequest]): Unit =
    Workloads.servedClients(reqs.size, { i =>
      val q = reqs(i)
      rec.op(s"warm-up served ${q.op}")(client.served(gen.userIds(q.user), q.op, q.vector, q.kind, q.text))
    })

  private var windows = 0

  /** One timed served turn: two closed-loop clients share `reqs`. Each
    * latency goes to its op's sample and to its tail window's (every
    * [[Workloads.TailWindow]] requests of the turn), the turn's wall time
    * to `served_wall_s`; the answers are checked once the turn ends. */
  def servedTurn(reqs: IndexedSeq[ReadRequest], where: String): Unit = {
    import Workloads.TailWindow
    val first = windows
    windows += (reqs.size + TailWindow - 1) / TailWindow
    val got = new ConcurrentLinkedQueue[(ReadRequest, Hits)]
    val t0 = System.nanoTime()
    Workloads.servedClients(reqs.size, { i =>
      val q = reqs(i)
      val tq = System.nanoTime()
      val h = rec.op(s"$where ${q.op}")(
        client.served(gen.userIds(q.user), q.op, q.vector, q.kind, q.text))
      val ms = (System.nanoTime() - tq) / 1e6
      rec.add(s"served_ms.${q.op}", ms)
      rec.add(s"served_window_ms.${first + i / TailWindow}", ms)
      h.foreach(x => got.add((q, x)))
    })
    rec.add("served_wall_s", (System.nanoTime() - t0) / 1e9)
    got.asScala.foreach { case (q, h) => checks.read(q.user, q.op, q.vector, q.kind, q.text, h, where) }
  }

  /** The first served recall after a write pays the view rebuild: its
    * latency is the time until the just-saved memory can be recalled. */
  def freshRecall(u: Int, saved: Memory): Unit =
    read("fresh recall", ReadRequest(-1, u, "vector", saved.vector, "", "", -1), served = true,
      sample = "fresh_ms").foreach(h => check(h.ids.contains(saved.docId),
        s"served recall did not find just-saved ${saved.docId}"))

  /** A served or Spark request of `op` built from memory `m`. */
  def about(m: Memory, op: String): ReadRequest = {
    val words = m.content.split(' ')
    ReadRequest(-1, m.user, op, m.vector, if (op == "filtered") m.kind else "",
      if (op == "term") words.head else words.take(2).mkString(" "), -1)
  }

  /** Read-your-writes after a write: the fresh recall, then served
    * requests cycling the ops over the user's live memories: a GC and
    * [[RecallWarm]] requests that warm the rebuilt view, untimed, then
    * [[RecallTurns]] timed turns of [[RecallTurn]] requests from two
    * closed-loop clients, as in the read workloads' served phase. Between the
    * turns, Spark-path recalls of the memories `found` must find them, so
    * that the served turns are spread over the point's time. Recalls of
    * the user's last removed memories must not return them. */
  def recallPoint(u: Int, saved: Memory, found: Seq[Memory]): Unit = {
    import Workloads.{RecallTurn, RecallTurns, RecallWarm}
    freshRecall(u, saved)
    val mine = oracle.userLive(u)
    def probe(i: Int) = about(mine(i % mine.size), Gen.Ops(i % Gen.Ops.size))
    System.gc()
    servedWarm((0 until RecallWarm).map(probe))
    (0 until RecallTurns).foreach { t =>
      val from = RecallWarm + t * RecallTurn
      servedTurn((from until from + RecallTurn).map(probe), "served recall")
      found.lift(t).foreach { m =>
        read("query recall", ReadRequest(-1, m.user, "vector", m.vector, "", "", -1),
          served = false, sample = "query_ms.vector").foreach(h => check(h.ids.contains(m.docId),
            s"query path did not find live ${m.docId}"))
      }
    }
    oracle.removedOf(u).takeRight(2).foreach(m =>
      read("served recall", ReadRequest(-1, u, "vector", m.vector, "", "", -1), served = true))
  }
}
