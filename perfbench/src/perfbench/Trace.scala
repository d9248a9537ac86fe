package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** SparkListener that charges each job, and the stages, tasks and bytes of
  * that job, to the span whose id the submitting thread carried as a Spark
  * local property. Each job is also attributed to the program module whose
  * source file its call site names (`collect at IvfBuilder.scala:123`). */
final class Meter(moduleOfFile: Map[String, String]) extends SparkListener {
  import Meter._
  private val stageSpan = new ConcurrentHashMap[Integer, String]
  private val bySpan = new ConcurrentHashMap[String, AtomicLongArray]
  val events = new AtomicLong

  private def counters(span: String) =
    bySpan.computeIfAbsent(span, _ => new AtomicLongArray(Fields.size))

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val span = Option(j.properties).flatMap(p => Option(p.getProperty(SpanKey))).orNull
    if (span != null) {
      j.stageIds.foreach(s => stageSpan.put(s, span))
      val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      val c = counters(span)
      c.incrementAndGet(Fields.indexOf("jobs"))
      moduleOf(site) match {
        case "core" => c.incrementAndGet(Fields.indexOf("jobs_core"))
        case "operators" => c.incrementAndGet(Fields.indexOf("jobs_operators"))
        case _ =>
      }
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val span = stageSpan.get(s.stageInfo.stageId)
    if (span != null) {
      val c = counters(span)
      val m = s.stageInfo.taskMetrics
      c.incrementAndGet(Fields.indexOf("stages"))
      c.addAndGet(Fields.indexOf("tasks"), s.stageInfo.numTasks)
      if (m != null) {
        c.addAndGet(Fields.indexOf("input_bytes"), m.inputMetrics.bytesRead)
        c.addAndGet(Fields.indexOf("shuffle_bytes"),
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def moduleOf(callSite: String): String = callSite match {
    case SiteFile(file) => moduleOfFile.getOrElse(file, "other")
    case _ => "other"
  }

  def countersOf(span: Long): Seq[Long] =
    Option(bySpan.get(span.toString)).fold(Seq.fill(Fields.size)(0L))(a =>
      Seq.tabulate(Fields.size)(a.get))

  /** Listener events arrive asynchronously: poll until the event count
    * stops moving, bounded so a stuck bus cannot hang the run. Returns
    * whether the counters settled. */
  def settle(): Boolean = {
    var last = events.get
    var polls = 0
    var stable = 0
    while (stable < 2 && polls < 40) {
      Thread.sleep(100)
      val now = events.get
      if (now == last) stable += 1 else stable = 0
      last = now
      polls += 1
    }
    stable >= 2
  }
}

object Meter {
  val SpanKey = "perfbench.span"
  val Fields: Vector[String] = Vector("jobs", "stages", "tasks", "input_bytes",
    "shuffle_bytes", "jobs_core", "jobs_operators")
  private val SiteFile = """.* at ([A-Za-z0-9_$]+\.scala):\d+.*""".r

  /** Source file name -> module (the directory under `graft/`, or `graft`
    * for files at its root), read from the program's source tree. */
  def modules(srcRoot: Path): Map[String, String] = {
    val s = Files.walk(srcRoot)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val parent = srcRoot.relativize(p.getParent).toString
      p.getFileName.toString -> (if (parent.isEmpty) "graft" else parent.split('/').head)
    }.toMap
    finally s.close()
  }
}

/** Bytes and files under a directory; the difference of two scans gives a
  * write call's written and freed bytes. */
object DirBytes {
  def scan(dir: Path): Map[String, Long] = {
    if (!Files.exists(dir)) return Map.empty
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }
  def total(dir: Path): Long = scan(dir).values.sum
  /** (written, freed): new files and growth of changed files; removed files
    * and shrinkage of changed files. */
  def diff(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    var written = 0L
    var freed = 0L
    after.foreach { case (p, n) =>
      val was = before.getOrElse(p, 0L)
      if (n > was) written += n - was else freed += was - n
    }
    before.foreach { case (p, n) => if (!after.contains(p)) freed += n }
    (written, freed)
  }
}

final case class Span(id: Long, parent: Long, req: Long, name: String,
    t0: Long, t1: Long, written: Long, freed: Long)

/** Spans held in memory and written out when the run ends. Each span sets
  * the Spark local property [[Meter.SpanKey]] for its thread, so jobs the
  * body submits are charged to the innermost open span. */
final class Tracer(sc: SparkContext, collDir: Path, origin: Long) {
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]
  /** Named samples that are not durations (cache hits, fast-path plans). */
  val notes = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]

  def note(name: String, v: Double): Unit =
    notes.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]).add(v)

  def span[A](name: String, req: Long, measureDir: Boolean = false)(body: => A): A = {
    val id = ids.incrementAndGet()
    val stack = open.get
    val prevProp = sc.getLocalProperty(Meter.SpanKey)
    val before = if (measureDir) DirBytes.scan(collDir) else null
    sc.setLocalProperty(Meter.SpanKey, id.toString)
    open.set(id :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(stack)
      sc.setLocalProperty(Meter.SpanKey, prevProp)
      val (w, f) = if (measureDir) DirBytes.diff(before, DirBytes.scan(collDir)) else (0L, 0L)
      spans.add(Span(id, stack.headOption.getOrElse(0L), req, name, t0 - origin, t1 - origin, w, f))
    }
  }

  /** Span rows: id, parent, request, name, start and end (ns since the run
    * began), bytes written and freed, then the [[Meter.Fields]] counters. */
  def rows(meter: Meter): Seq[Seq[Any]] =
    spans.asScala.toSeq.sortBy(_.id).map { s =>
      Seq(s.id, s.parent, s.req, s.name, s.t0, s.t1, s.written, s.freed) ++ meter.countersOf(s.id)
    }
}
