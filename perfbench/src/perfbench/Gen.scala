package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** One saved memory as the generator knows it — the oracle's view of the
  * collection is built from these alone. */
final case class Memory(user: Int, docId: String, vector: Array[Float],
    content: String, kind: String) {
  lazy val tokens: Set[String] = content.split(' ').toSet
  /** Live user bytes: f32 vector + UTF-8 text + 32 id bytes (user + doc). */
  def userBytes: Long =
    4L * vector.length + content.getBytes(UTF_8).length + kind.getBytes(UTF_8).length + 32L
}

/** One read request. `repeatOf` is the sequence number of the earlier
  * request of the same user and op that this one repeats, or -1. */
final case class ReadRequest(seq: Int, user: Int, op: String, vector: Array[Float],
    kind: String, text: String, repeatOf: Int)

object Gen {
  val Dim = 384
  val TopK = 10
  val Ops: Vector[String] = Vector("vector", "filtered", "term", "ranked", "hybrid")
  // eight keyword values: a kind filter keeps about 1/8 of a user's memories
  val Kinds: Vector[String] = Vector("note", "task", "fact", "plan", "chat", "code", "link", "idea")
  val ClustersPerUser = 4
  val Noise = 0.5
  val RepeatShare = 0.2
  val VocabSize = 3000

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def draw(cdf: Array[Double], r: java.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  def uuid(hi: Long, lo: Long): String = {
    val h = f"$hi%016x$lo%016x"
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  /** Consonant-vowel words with no English suffix, so the stemmer and the
    * stop list leave them as they are and the oracle can match raw tokens. */
  private val consonants = "bdfgkmnprtvz"
  private val vowels = "aou"
  val allWords: Vector[String] =
    (for {
      a <- consonants; b <- vowels; c <- consonants; d <- vowels; e <- consonants
    } yield s"$a$b$c$d$e").toVector
}

/** Seeded synthetic memories and requests. Every stream draws from its own
  * `java.util.Random`, so the same seed gives byte-identical inputs. */
final class Gen(val seed: Long, val users: Int) {
  import Gen._

  private def rng(stream: Long) = new java.util.Random(seed * 0x9E3779B97F4A7C15L + stream)

  /** The same users under every seed: a segment stores each user hash
    * bucket in its own files, so with seeded ids whether two of the few
    * users share a bucket would move bytes on disk by a quarter between
    * seeds. */
  val userIds: Vector[String] = {
    val r = new java.util.Random(0x05E125L)
    Vector.tabulate(users)(u => uuid(r.nextLong(), u.toLong))
  }

  val vocab: Vector[String] = {
    val r = rng(2)
    val a = allWords.toArray
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.take(VocabSize).toVector
  }

  private val wordCdf = zipfCdf(VocabSize, 1.0)
  private val userCdf = zipfCdf(users, 1.0)

  private val centers: Array[Array[Array[Double]]] = {
    val r = rng(3)
    Array.fill(users, ClustersPerUser, Dim)(r.nextGaussian())
  }

  private val memRng = rng(4)
  private val docHi = rng(5).nextLong()
  private var nextDoc = 0L

  def zipfUser(r: java.util.Random): Int = draw(userCdf, r)
  def word(r: java.util.Random): String = vocab(draw(wordCdf, r))

  private def nearCenter(user: Int, r: java.util.Random): Array[Float] = {
    val c = centers(user)(r.nextInt(ClustersPerUser))
    Array.tabulate(Dim)(d => (c(d) + Noise * r.nextGaussian()).toFloat)
  }

  def memory(user: Int): Memory = {
    val r = memRng
    nextDoc += 1
    val vec = nearCenter(user, r)
    val n = 8 + r.nextInt(9)
    val content = Seq.fill(n)(word(r)).mkString(" ")
    Memory(user, uuid(docHi, nextDoc), vec, content, Kinds(r.nextInt(Kinds.size)))
  }

  /** `n` memories whose users are Zipf-drawn. */
  def memories(n: Int): Vector[Memory] = Vector.fill(n)(memory(zipfUser(memRng)))

  /** A read-request stream cycling the ops in a fixed order, so any whole
    * number of cycles has the same op mix. About [[RepeatShare]] of the
    * requests repeat an earlier request of the same user and op. */
  def readStream(n: Int): Vector[ReadRequest] = {
    val r = rng(6)
    val history = scala.collection.mutable.HashMap.empty[(Int, String), Vector[ReadRequest]]
    Vector.tabulate(n) { seq =>
      val op = Ops(seq % Ops.size)
      val user = zipfUser(r)
      val prior = history.getOrElse((user, op), Vector.empty)
      if (prior.nonEmpty && r.nextDouble() < RepeatShare) {
        val src = prior(r.nextInt(prior.size))
        src.copy(seq = seq, repeatOf = src.seq)
      } else {
        val text = op match {
          case "term" => word(r)
          case "ranked" | "hybrid" => s"${word(r)} ${word(r)}"
          case _ => ""
        }
        val vec = if (op == "vector" || op == "filtered" || op == "hybrid") nearCenter(user, r)
          else Array.emptyFloatArray
        val kind = if (op == "filtered") Kinds(r.nextInt(Kinds.size)) else ""
        val req = ReadRequest(seq, user, op, vec, kind, text, -1)
        history((user, op)) = prior :+ req
        req
      }
    }
  }
}
