package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{GraftService, InsertRequest, SearchRequest}
import graft.core.ServedUserView
import graft.operators.{DocFilter, SearchParams}

/** Doc uuids with their scores, in returned order (no scores for term
  * search). */
final case class Hits(ids: Seq[String], scores: Seq[Double])

/** Sends the benchmark's requests. Untraced, every request goes through
  * [[GraftService]]. Traced, each request is issued as the public calls
  * GraftService makes for it, each in a span: a query as
  * `Collection.snapshot` -> `Snapshot.<op>` (the plan, with any eager jobs)
  * -> `collect()`; a served request as `stateFingerprint` -> `serveUser`
  * (only when the fingerprint changed) -> `ServedUserView.<op>`; a write as
  * the `Collection` call it ends in. The replay converts ids and rows
  * itself, as GraftService does. */
final class Client(spark: SparkSession, svc: GraftService, name: String,
    tracer: Option[Tracer]) {
  import Client._
  import spark.implicits._

  private val coll = svc.collection(name)
  private val reqIds = new AtomicLong
  private val views = TrieMap.empty[String, (String, ServedUserView)]
  /** User bytes of every memory inserted, the base of write amplification. */
  val userBytesInserted = new AtomicLong

  private def filterOf(kind: String): Option[DocFilter] =
    if (kind.isEmpty) None else Some(DocFilter.Contains("kind", kind, keyword = true))

  // ---- reads ----

  def served(user: String, op: String, vec: Array[Float], kind: String, text: String): Hits =
    tracer match {
      case None =>
        val s = svc.serveUser(name, user)
        op match {
          case "vector" | "filtered" =>
            val r = s.search(vec.toSeq, Gen.TopK, NProbe, filterOf(kind))
            Hits(r.docIds, r.scores)
          case "term" => Hits(s.termSearch(DocFilter.Contains(Field, text), Gen.TopK), Nil)
          case "ranked" => triples(s.rankedSearch(Field, text, Gen.TopK))
          case "hybrid" =>
            triples(s.hybridSearch(Field, text, vec.map(_.toDouble), Gen.TopK, NProbe, Window))
        }
      case Some(t) =>
        val rid = reqIds.incrementAndGet()
        t.span(s"api.served.$op", rid) {
          val fp = t.span("core.fingerprint", rid)(coll.stateFingerprint())
          val view = views.get(user) match {
            case Some((f, v)) if f == fp =>
              t.note("core.served.cache_hit", 1.0)
              v
            case _ =>
              t.note("core.served.cache_hit", 0.0)
              val v = t.span("core.serve_build", rid)(coll.serveUser(toBytes(user)))
              views.put(user, (fp, v))
              v
          }
          val q = vec.map(_.toDouble)
          t.span(s"core.served.$op", rid) {
            op match {
              case "vector" | "filtered" =>
                val r = view.search(q, Gen.TopK, NProbe, filterOf(kind))
                Hits(r.map(x => toUuid(x._1)), r.map(_._2))
              case "term" =>
                Hits(view.termSearch(DocFilter.Contains(Field, text), Gen.TopK).map(toUuid), Nil)
              case "ranked" => rawTriples(view.rankedSearch(Field, text, Gen.TopK))
              case "hybrid" =>
                rawTriples(view.hybridSearch(Field, text, q, Gen.TopK, NProbe, Window))
            }
          }
        }
    }

  def query(user: String, op: String, vec: Array[Float], kind: String, text: String): Hits =
    tracer match {
      case None =>
        op match {
          case "vector" | "filtered" =>
            val r = svc.search(SearchRequest(name, vec.toSeq, Gen.TopK, Seq(user),
              filterOf(kind), numExploredCentroids = Some(NProbe)))
            Hits(r.docIds, r.scores)
          case "term" =>
            Hits(svc.termSearch(name, DocFilter.Contains(Field, text), Gen.TopK, Seq(user)), Nil)
          case "ranked" => triples(svc.rankedSearch(name, Field, text, Gen.TopK, Seq(user)))
          case "hybrid" =>
            triples(svc.hybridSearch(name, Field, text, vec.map(_.toDouble).toSeq, Gen.TopK,
              window = Window, nprobe = NProbe, userIds = Seq(user)))
        }
      case Some(t) =>
        val rid = reqIds.incrementAndGet()
        t.span(s"api.query.$op", rid) {
          val snap = t.span("core.snapshot", rid)(coll.snapshot())
          val u = Seq(toBytes(user))
          val q = vec.map(_.toDouble).toSeq
          val df: DataFrame = t.span(s"core.plan.$op", rid) {
            op match {
              case "vector" | "filtered" =>
                snap.search(q, SearchParams(Gen.TopK, Some(NProbe)), u, filterOf(kind))
                  .select("doc_id", "score")
              case "term" =>
                snap.termSearch(DocFilter.Contains(Field, text), Gen.TopK, u).select("doc_id")
              case "ranked" => snap.rankedSearch(Field, text, Gen.TopK, userIds = u)
              case "hybrid" =>
                snap.hybridSearch(Field, text, q, Gen.TopK, window = Window,
                  params = SearchParams(topK = Gen.TopK, numExploredCentroids = Some(NProbe)),
                  userIds = u)
            }
          }
          val rows = t.span(s"operators.exec.$op", rid)(df.collect())
          t.note("core.plan.fastpath", if (isFastPath(df)) 1.0 else 0.0)
          op match {
            case "vector" | "filtered" =>
              Hits(rows.map(r => toUuid(r.get(0))).toSeq, rows.map(_.getDouble(1)).toSeq)
            case "term" => Hits(rows.map(r => toUuid(r.get(0))).toSeq, Nil)
            case _ => Hits(rows.map(r => toUuid(r.get(1))).toSeq, rows.map(_.getDouble(2)).toSeq)
          }
        }
    }

  // ---- writes ----

  def insert(ms: Seq[Memory], userIds: IndexedSeq[String]): Unit = {
    val users = ms.map(m => userIds(m.user))
    userBytesInserted.addAndGet(ms.map(_.userBytes).sum)
    tracer match {
      case None =>
        svc.insert(InsertRequest(name, ms.map(_.docId), users, ms.flatMap(_.vector.toSeq),
          Map(Field -> ms.map(_.content), "kind" -> ms.map(_.kind))))
      case Some(t) =>
        val rid = reqIds.incrementAndGet()
        t.span("api.insert", rid) {
          var df = ms.indices.map { i =>
            (i.toLong, toBytes(users(i)), toBytes(ms(i).docId), ms(i).vector.map(_.toDouble).toSeq)
          }.toDF("row_idx", "user_id", "doc_id", "vector")
          Seq(Field -> ms.map(_.content), "kind" -> ms.map(_.kind)).foreach { case (f, vs) =>
            df = df.join(vs.indices.map(i => (i.toLong, vs(i))).toDF("row_idx", f), Seq("row_idx"))
          }
          val rows = df.drop("row_idx")
          t.span("core.insert", rid, measureDir = true)(coll.insert(rows))
        }
    }
  }

  def remove(users: Seq[String], docs: Seq[String]): Unit = tracer match {
    case None => svc.remove(name, users, docs)
    case Some(t) =>
      val rid = reqIds.incrementAndGet()
      t.span("api.remove", rid) {
        val u = users.distinct.map(toBytes).toDF("user_id")
        val d = docs.distinct.map(toBytes).toDF("doc_id")
        t.span("core.delete", rid, measureDir = true)(coll.delete(u.crossJoin(d)))
      }
  }

  def flush(): Unit = tracer match {
    case None => svc.flush(name)
    case Some(t) => t.span("core.flush", reqIds.incrementAndGet(), measureDir = true)(coll.flush())
  }

  /** One optimizer tick (`maybeCompact`), or an explicit full `merge`.
    * Returns whether segments were merged. */
  def compact(full: Boolean): Boolean = {
    val acted = tracer match {
      case None => if (full) svc.mergeSegments(name) else svc.optimize(name)
      case Some(t) =>
        t.span("core.compact", reqIds.incrementAndGet(), measureDir = true)(
          if (full) coll.merge() else coll.maybeCompact())
    }
    val merged = acted.exists(a => full || a.startsWith("merged"))
    tracer.foreach(_.note("core.compact.merged", if (merged) 1.0 else 0.0))
    merged
  }

  def expire(): Unit = tracer match {
    case None => coll.expireVersions(keep = 2)
    case Some(t) =>
      t.span("core.expire", reqIds.incrementAndGet(), measureDir = true)(coll.expireVersions(keep = 2))
  }

  private def triples(r: Seq[(String, Double, Long)]) = Hits(r.map(_._1), r.map(_._2))
  private def rawTriples(r: Seq[(Any, Double, Long)]) = Hits(r.map(x => toUuid(x._1)), r.map(_._2))
}

object Client {
  val Field = "content"
  /** Centroids probed per segment (of the default 10) by vector searches. */
  val NProbe = 2
  /** Per-list depth of hybrid search's rank fusion. */
  val Window = 50

  def toBytes(uuid: String): Array[Byte] = {
    val hex = uuid.replace("-", "")
    Array.tabulate(16)(i => Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte)
  }

  def toUuid(id: Any): String = {
    val h = id.asInstanceOf[Array[Byte]].map(x => f"${x & 0xff}%02x").mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  /** A plan takes the fast path when it needs neither the newest-wins
    * window nor a tombstone anti-join. */
  def isFastPath(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan.toString
    !plan.contains("Window") && !plan.contains("LeftAnti")
  }
}
