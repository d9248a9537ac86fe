package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in process and writes its raw samples as JSON:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --src <program source root> --out <file>`.
  * `perfbench.Main --gen-digest --seed <n>` prints a digest of the inputs
  * the generator makes for that seed. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--gen-digest")) {
      println(genDigest(args(args.indexOf("--seed") + 1).toLong))
      return
    }
    val workload = opts("workload")
    val run: Ctx => Unit = workload match {
      case "hot-compacted" => Workloads.hotCompacted
      case "ingest-compact" => Workloads.ingestCompact
      case other => sys.error(s"unknown workload: $other")
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val conf = Seq(
      "spark.master" -> s"local[$nproc]",
      "spark.sql.shuffle.partitions" -> nproc.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
    val spark = conf.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val origin = System.nanoTime()
    Console.err.println(f"perfbench: Spark ready after ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    val basePath = work.resolve("collections").toString
    val meter = if (traced) Some(new Meter(Meter.modules(Paths.get(opts("src"))))) else None
    meter.foreach(spark.sparkContext.addSparkListener)
    val tracer = if (traced)
      Some(new Tracer(spark.sparkContext, Paths.get(basePath, Workloads.CollectionName), origin)) else None
    val ctx = new Ctx(spark, basePath, new Gen(seed, Workloads.Users), seconds, tracer)
    ctx.rec.op(workload)(run(ctx))
    val workloadS = (System.nanoTime() - origin) / 1e9
    Console.err.println(f"perfbench: $workload done after $workloadS%.1f s")
    val rt = Runtime.getRuntime
    // Spark frees broadcast and shuffle blocks only after a GC has shown
    // them unreachable, so collect until the live heap stops shrinking
    val heapUsedMb = {
      def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
      var last = used()
      var now = last
      var i = 0
      while ({ Thread.sleep(300); now = used(); i += 1; now < last * 0.99 && i < 10 }) last = now
      now / 1048576.0
    }
    val settled = meter.forall(_.settle())
    val rec = ctx.rec
    val out = Map(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> traced,
      "nproc" -> nproc,
      "heap_max_mb" -> rt.maxMemory / 1048576.0,
      "spark_conf" -> conf.toMap,
      "reason" -> Workloads.Reasons(workload),
      "samples" -> rec.names.map(n => n -> rec.get(n)).toMap,
      "scalars" -> (rec.scalars.asScala.toMap +
        ("user_bytes_written" -> ctx.client.userBytesInserted.get)),
      "recall_hits" -> rec.recallHits.get,
      "recall_total" -> rec.recallTotal.get,
      "heap_used_mb" -> heapUsedMb,
      "phase_s" -> Map("spark_start" -> (ManagementFactory.getRuntimeMXBean.getUptime / 1e3 -
        (System.nanoTime() - origin) / 1e9), "workload" -> workloadS,
        "heap_and_settle" -> ((System.nanoTime() - origin) / 1e9 - workloadS)),
      "attempted" -> rec.attempted.get,
      "failed" -> rec.failed.get,
      "failures" -> rec.failures.asScala.toSeq,
      "listener_settled" -> settled,
      "span_fields" -> (Seq("id", "parent", "req", "name", "t0_ns", "t1_ns", "written",
        "freed") ++ Meter.Fields),
      "spans" -> tracer.fold(Seq.empty[Seq[Any]])(t => t.rows(meter.get)),
      "notes" -> tracer.fold(Map.empty[String, Seq[Double]])(
        _.notes.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap))
    Files.write(Paths.get(opts("out")), Json.render(out).getBytes(UTF_8))
    spark.stop()
  }

  /** SHA-256 over the inputs a seed yields: the users, the memories the
    * workloads save and the read-request stream. */
  def genDigest(seed: Long): String = {
    val g = new Gen(seed, Workloads.Users)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(4 * Gen.Dim)
    def floats(v: Array[Float]): Unit = {
      buf.clear(); v.foreach(buf.putFloat); md.update(buf.array, 0, buf.position())
    }
    def str(s: String): Unit = md.update((s + "\u0000").getBytes(UTF_8))
    g.userIds.foreach(str)
    g.memories(1000).foreach { m =>
      str(m.docId); str(m.user.toString); floats(m.vector); str(m.content); str(m.kind)
    }
    g.readStream(500).foreach { q =>
      str(s"${q.seq}/${q.user}/${q.op}/${q.kind}/${q.text}/${q.repeatOf}"); floats(q.vector)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
