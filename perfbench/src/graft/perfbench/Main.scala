package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.SparkSession

/** A metric as the result line reports it. */
final case class Metric(name: String, unit: String)

object Metrics {
  val endToEnd: Seq[Metric] = Seq(
    Metric("input_mb_s", "MB/s"), Metric("cpu_s", "s"),
    Metric("setup_s", "s"), Metric("peak_rss_mb", "MB"))

  val perLayer: Seq[Metric] = Seq(
    Metric("ingest.busy_s", "s"), Metric("ingest.partitions", "count"),
    Metric("ingest.files_per_s", "1/s"),
    Metric("scan.busy_s", "s"), Metric("scan.mb_s", "MB/s"), Metric("scan.fragments", "count"),
    Metric("scan.kept_frac", "frac"), Metric("scan.accept_frac", "frac"),
    Metric("xpath.busy_s", "s"), Metric("xpath.calls", "count"), Metric("xpath.us_per_call", "us"),
    Metric("xpath.tuples", "count"), Metric("xpath.errors", "count"),
    Metric("fold.busy_s", "s"), Metric("fold.rows", "count"),
    Metric("format.busy_s", "s"), Metric("sink.busy_s", "s"), Metric("sink.mb", "MB"),
    Metric("sink.files", "count"),
    Metric("domref.mb_s", "MB/s"), Metric("xml.fused_over_dom", "ratio"),
    Metric("dedup.construct_s", "s"), Metric("dedup.shingle_s", "s"),
    Metric("dedup.candidates_s", "s"), Metric("dedup.candidate_pairs", "count"),
    Metric("dedup.verify_s", "s"), Metric("dedup.verified_pairs", "count"),
    Metric("dedup.verify_yield", "frac"), Metric("dedup.components_s", "s"),
    Metric("spark.jobs", "count"), Metric("spark.tasks", "count"),
    Metric("spark.executor_run_s", "s"), Metric("spark.executor_cpu_s", "s"),
    Metric("spark.gc_s", "s"), Metric("spark.task_wait_s", "s"),
    Metric("spark.parallelism", "ratio"), Metric("spark.task_skew", "ratio"),
    Metric("spark.shuffle_write_mb", "MB"), Metric("spark.spill_mb", "MB"),
    Metric("trace.overhead_frac", "frac"))
}

/** Minimal JSON rendering for the result line and the artifact. */
final case class Obj(fields: (String, Any)*)

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

object Session {
  def start(cores: Int, scratch: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", false)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** One iteration of the closed loop; `stolen` is the share of the CPU time
 * the machine's CPUs wanted during it that the hypervisor gave elsewhere. */
final case class Iter(wallS: Double, cpuS: Double, stolen: Double, threw: Boolean,
                      failure: Option[String], traced: Boolean, layers: Map[String, Double]) {
  /** Wall time the machine's CPUs actually ran: on a shared host the
   * hypervisor's steal, not the program, dominates the spread of plain wall
   * time (measured stolen shares of 0.22-0.56 between runs on one 4-vCPU box). */
  def runS: Double = wallS * (1 - stolen)
}

/** Busy and stolen CPU ticks of the whole machine, from /proc/stat. */
object HostTicks {
  def apply(): (Long, Long) = {
    val src = Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } finally src.close()
  }

  def stolenShare(before: (Long, Long), after: (Long, Long)): Double = {
    val (busy, steal) = (after._1 - before._1, after._2 - before._2)
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }
}

/**
 * Entry points:
 *  - `measure`: generates the workload's inputs for the seed, sets up three
 *    times, runs the untimed warm-up jobs, then the closed loop, untraced;
 *    with `--trace 1` alternately untraced and traced. The last stdout line
 *    is the result object.
 *  - `selftest`: the benchmark's own tests.
 */
object Main {
  private val SetupRounds = 3
  private val DomRefPasses = 3

  def main(args: Array[String]): Unit = {
    val code =
      try args.headOption match {
        case Some("measure") => measure(Opts(args.tail)); 0
        case Some("selftest") => SelfTest.run()
        case _ => System.err.println("usage: Main measure|selftest --key value ..."); 2
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String, default: String): String = m.getOrElse(k, default)
  }

  object Opts {
    def apply(args: Seq[String]): Opts = {
      require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
        s"expected --key value pairs, got ${args.mkString(" ")}")
      Opts(args.grouped(2).map(p => p.head.stripPrefix("--") -> p(1)).toMap)
    }
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Samples the resident set every 10 ms; `peakMb` is the largest sample. */
  private final class RssSampler extends Thread("perfbench-rss") {
    @volatile var peakMb = 0.0
    @volatile private var running = true
    setDaemon(true)

    override def run(): Unit = while (running) {
      val src = Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmRSS:"))
        .foreach(l => peakMb = math.max(peakMb, l.split("\\s+")(1).toDouble / 1024))
      finally src.close()
      Thread.sleep(10)
    }

    def finish(): Double = { running = false; join(); peakMb }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def measure(o: Opts): Unit = {
    val work = new File(o("work"))
    val seed = o("seed").toLong
    val cores = o("cores").toInt
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val w = Workloads(o("workload"))
    var genSpark: SparkSession = null
    def genSession(): SparkSession = {
      if (genSpark == null) genSpark = Session.start(cores, work)
      genSpark
    }
    val info = try w.generate(() => genSession(), work, seed)
    finally if (genSpark != null) Session.stop(genSpark)
    // generation's garbage must not count towards the workload's memory
    System.gc()
    val rss = new RssSampler
    rss.start()
    val outRoot = new File(work, "out")
    var counter = 0

    def iteration(spark: SparkSession, job: Job, tracer: Option[Tracer]): Iter = {
      counter += 1
      val run = counter
      val out = new File(outRoot, s"iter-$run")
      tracer.foreach(_.begin(run))
      val (c0, h0, t0) = (cpuNs(), HostTicks(), System.nanoTime())
      val ran =
        try Right(Tracer.span(tracer, "iteration")(job.run(out, tracer)))
        catch { case e: Exception => Left(e) }
      val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
      val stolen = HostTicks.stolenShare(h0, HostTicks())
      tracer.foreach(_.end())
      val failure = ran.fold(
        e => Some(s"${w.name} seed $seed: iteration $run threw $e"),
        r => try r.check() catch { case e: Exception => Some(s"${w.name} seed $seed: check threw $e") })
      val layers = (tracer, ran) match {
        case (Some(t), Right(r)) if failure.isEmpty =>
          t.drain()
          val stats = t.collector.statsOf(run)
          r.layers(run, stats) ++ sparkLayers(stats, wall)
        case _ => Map.empty[String, Double]
      }
      failure.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
      deleteTree(out)
      Workloads.unpersistAll(spark)
      Iter(wall, cpu, stolen, ran.isLeft, failure, tracer.isDefined, layers)
    }

    def loop(spark: SparkSession, job: Job, budgetS: Double, tracer: Option[Tracer]): Seq[Iter] = {
      val start = System.nanoTime()
      val out = ArrayBuffer.empty[Iter]
      val minimum = if (tracer.isDefined) 2 * w.minIterations else w.minIterations
      while (out.size < minimum || (System.nanoTime() - start) / 1e9 < budgetS)
        out += iteration(spark, job, tracer.filter(_ => out.size % 2 == 1))
      out.toSeq
    }

    // set-up: session start, program-side loading and one warm-up job, repeated;
    // timed like a job, without the host's steal
    val setups = ArrayBuffer.empty[Double]
    val warmups = ArrayBuffer.empty[Iter]
    var spark: SparkSession = null
    var job: Job = null
    for (_ <- 0 until SetupRounds) {
      if (spark != null) Session.stop(spark)
      val (h0, t0) = (HostTicks(), System.nanoTime())
      spark = Session.start(cores, work)
      job = w.open(spark, work, seed, info)
      warmups += iteration(spark, job, None)
      setups += (System.nanoTime() - t0) / 1e9 * (1 - HostTicks.stolenShare(h0, HostTicks()))
    }

    // untimed jobs that carry the JIT further towards its plateau
    for (_ <- 0 until w.warmupJobs) warmups += iteration(spark, job, None)

    // a traced run alternates untraced and traced iterations, so both see the
    // same stage of JIT warm-up and trace.overhead_frac compares like with like
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val measured = loop(spark, job, seconds, tracer)
    tracer.foreach(_.close())
    val untraced = measured.filter(!_.traced)
    val traced = measured.filter(_.traced)
    val domref = if (trace) Seq.fill(DomRefPasses)(job.domrefMbS()) else Nil
    val stamp = Obj(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "jvm_processors" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "commit" -> o.get("commit", "unknown"), "source_sha256" -> o.get("source-sha", "unknown"),
      "corpus_docs" -> info.docs, "corpus_files" -> info.files, "corpus_bytes" -> info.bytes,
      "gen_s" -> info.genS)
    Session.stop(spark)
    val peakRss = rss.finish()

    val all = warmups ++ untraced ++ traced
    val failed = all.count(_.failure.isDefined)
    // a job with wrong output still ran: it is timed, and counted as failed
    val ok = untraced.filter(!_.threw)
    val mb = info.bytes / 1e6
    val e2e = Map(
      "input_mb_s" -> median(ok.map(mb / _.runS)),
      "cpu_s" -> median(ok.map(_.cpuS)),
      "setup_s" -> median(setups.toSeq),
      "peak_rss_mb" -> peakRss)
    val layerSamples = traced.filter(_.failure.isEmpty).map(_.layers)
    val layerMedians = layerSamples.flatMap(_.keys).distinct.map(k =>
      k -> median(layerSamples.flatMap(_.get(k)))).toMap
    val dom = median(domref)
    val perLayer = Metrics.perLayer.map(_.name).map(n => n -> 0.0).toMap ++ layerMedians ++ Map(
      "domref.mb_s" -> dom,
      "xml.fused_over_dom" -> (if (dom > 0) layerMedians.getOrElse("xml.extract_mb_s", 0.0) / dom else 0.0),
      "trace.overhead_frac" ->
        (if (traced.nonEmpty) median(traced.map(_.runS)) / median(untraced.map(_.runS)) - 1 else 0.0))

    val artifact = Obj(
      "stamp" -> stamp,
      "end_to_end" -> e2e,
      "input_mb_s_plain_wall" -> median(ok.map(mb / _.wallS)),
      "samples" -> Obj(
        "setup_s" -> setups.toSeq, "wall_s" -> untraced.map(_.wallS), "cpu_s" -> untraced.map(_.cpuS),
        "stolen" -> untraced.map(_.stolen),
        "traced_wall_s" -> traced.map(_.wallS), "traced_stolen" -> traced.map(_.stolen)),
      "fail_frac" -> failed.toDouble / all.size,
      "failures" -> all.flatMap(_.failure),
      "per_layer" -> (if (trace) perLayer else Map.empty),
      "per_iteration_layers" -> traced.map(_.layers),
      "spans" -> tracer.map(_.spans.map(s => Obj("name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run))).getOrElse(Nil))
    val results = new File(o("results"))
    results.mkdirs()
    Files.writeString(new File(results, s"${w.name}-seed$seed-trace${o("trace")}.json").toPath, Json(artifact))

    val reported = if (trace) Metrics.perLayer else Metrics.endToEnd
    val values = if (trace) perLayer else e2e
    println(Json(Obj("stamp" -> stamp, "fail_frac" -> failed.toDouble / all.size,
      "samples" -> untraced.size, "traced_samples" -> traced.size)))
    println(Json(Obj(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> Obj(reported.map(m => m.name -> Obj("value" -> values(m.name), "unit" -> m.unit)): _*))))
  }

  private def sparkLayers(s: RunStats, wallS: Double): Map[String, Double] = Map(
    "spark.jobs" -> s.jobs.toDouble,
    "spark.tasks" -> s.tasks.toDouble,
    "spark.executor_run_s" -> s.runMs / 1e3,
    "spark.executor_cpu_s" -> s.cpuNs / 1e9,
    "spark.gc_s" -> s.gcMs / 1e3,
    "spark.task_wait_s" -> s.waitMs / 1e3,
    "spark.parallelism" -> s.runMs / 1e3 / wallS,
    "spark.task_skew" -> s.skew,
    "spark.shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
    "spark.spill_mb" -> s.spillBytes / 1e6)
}

/** Prints the reported metric names and units, for comparison with BENCHMARK.json. */
object MetricNames {
  def main(args: Array[String]): Unit = println(Json(Obj(
    "end_to_end" -> Metrics.endToEnd.map(m => Seq(m.name, m.unit)),
    "per_layer" -> Metrics.perLayer.map(m => Seq(m.name, m.unit)))))
}
