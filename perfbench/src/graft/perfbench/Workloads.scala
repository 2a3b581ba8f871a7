package graft.perfbench

import java.io.{ByteArrayInputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.LongAdder
import java.util.stream.IntStream
import javax.xml.parsers.DocumentBuilderFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.LongAccumulator

import graft.config.ExtractionConfig
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.xml.{FragmentScanner, StaxProjector, StaxRuleEvaluator, XmlExtraction}

/** A generated corpus: its size and the ground truth's line count and digest. */
final case class InputInfo(docs: Long, files: Long, bytes: Long, expected: Digest, genS: Double)

/** One timed job's output check and, when traced, its per-layer numbers
 * (read after the listener has drained). */
final case class Ran(check: () => Option[String],
                     layers: (Int, RunStats) => Map[String, Double] = (_, _) => Map.empty)

trait Job {
  /** Runs one job of the closed loop; the returned check is not timed. */
  def run(out: File, tracer: Option[Tracer]): Ran

  /** In-memory reference point for the paper's claim: MB/s of a full DOM
   * parse per busy core-second; 0 where the workload has no XML. */
  def domrefMbS(): Double = 0.0
}

trait Workload {
  def name: String
  /** Untimed jobs after set-up, before the measured ones. */
  def warmupJobs: Int
  /** Jobs measured at least, whatever `--seconds` allows: with a fixed count
   * every run reports the same stretch of JIT warm-up, however fast the host. */
  def minIterations: Int
  /** `spark` starts a session on first use: a file corpus needs none. */
  def generate(spark: () => SparkSession, dir: File, seed: Long): InputInfo
  /** Program-side loading, part of set-up. */
  def open(spark: SparkSession, dir: File, seed: Long, info: InputInfo): Job
}

object Workloads {
  val all: Seq[Workload] = Seq(
    // large documents in one SequenceFile: XPath, fold, format and sink work
    XmlWorkload("extract_dense",
      XmlSpec(docs = 400, booksPerDoc = 200, bodyWords = 30, hitRate = 0.02, genreMissRate = 0.1),
      Configs.dense, XmlGen.denseLines, sequenceFile = true),
    // many small files and a selective start-tag filter: ingest and scan work
    XmlWorkload("extract_sparse",
      XmlSpec(docs = 1000, booksPerDoc = 20, bodyWords = 10, hitRate = 0.02, genreMissRate = 0.1),
      Configs.sparse, XmlGen.sparseLines, sequenceFile = false),
    // planted near-duplicate clusters: the operators layer and its eager jobs, no XML
    NearDupWorkload(TextSpec(docs = 2000, words = 80, clusters = 100, maxClusterSize = 5, vocab = 4000)))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  def unpersistAll(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

/** The extraction configs, in the reference's Hadoop-configuration format. */
object Configs {
  private def conf(nrOfColumns: Int, rules: (String, String)*): String = {
    val props = Seq(
      "xmlextractor.delimiter_string" -> ";",
      "xmlextractor.sort_order_delimiter_string" -> "#",
      "xmlextractor.output_delimiter_string" -> ";",
      "xmlextractor.nodes" -> rules.map(_._1).mkString("", ";", ";"),
      "xmlextractor.nr_of_columns" -> nrOfColumns.toString) ++ rules
    props.map { case (k, v) => s"  <property><name>$k</name><value>$v</value></property>" }
      .mkString("<?xml version=\"1.0\"?>\n<configuration>\n", "\n", "\n</configuration>\n")
  }

  /** Whole book subtrees, seven projections each; all in the StAX subset. */
  val dense: String = conf(11,
    "store" -> "store;true;false; ;0#//store/@name;",
    "address" -> "address;false;true; ;1#//address/phone/text();",
    "inventory" -> "inventory;true;false; ;2#//inventory/@month;3#//inventory/@day;",
    "book" -> ("book;true;true; ;4#//book/@id;5#//book/@inStock;6#//book/author/text();" +
      "7#//book/title/text();8#//book/genre/text();9#//book/price/text();" +
      "10#//book/publish_date/text();"))

  /** The reference's `ExtractBook.xml`: book start tags only, filtered on
   * [[XmlGen.FilterValue]]. */
  val sparse: String = conf(6,
    "store" -> "store;true;false; ;0#//store/@name;",
    "address" -> "address;false;true; ;1#//address/phone/text();",
    "inventory" -> "inventory;true;false; ;2#//inventory/@month;3#//inventory/@day;",
    "book" -> s"book;true;false;${XmlGen.FilterValue};4#//book/@id;5#//book/@inStock;")
}

// -----------------------------------------------------------------------------
// XML extraction: ExtractorCli's batch path
// -----------------------------------------------------------------------------

final case class XmlWorkload(name: String, spec: XmlSpec, configXml: String,
                             truth: Store => Seq[String], sequenceFile: Boolean) extends Workload {
  val warmupJobs = 4
  val minIterations = 5

  def generate(session: () => SparkSession, dir: File, seed: Long): InputInfo = {
    val t0 = System.nanoTime()
    val in = new File(dir, "input")
    val (count, sum, bytes) = (new LongAdder, new LongAdder, new LongAdder)
    val docs = new Array[(String, String)](spec.docs)
    IntStream.range(0, spec.docs).parallel().forEach { d =>
      val s = XmlGen.store(spec, seed, d)
      truth(s).foreach { l => count.increment(); sum.add(Digest.hash(l)) }
      docs(d) = (s.docId, XmlGen.render(s))
      bytes.add(docs(d)._2.length)
    }
    if (sequenceFile) {
      val spark = session()
      import spark.implicits._
      // one container in docId order, as the reference's CreateSequenceFile writes it
      XmlExtraction.corpusToSequenceFile(
        spark.createDataset(docs.toSeq).toDF("docId", "xml").coalesce(1), in.getPath)
    } else {
      in.mkdirs()
      docs.foreach { case (name, xml) => Files.writeString(new File(in, name).toPath, xml) }
    }
    val expected = new Digest
    expected.count = count.sum()
    expected.sum = sum.sum()
    InputInfo(spec.docs, if (sequenceFile) Checks.partFiles(in).size else spec.docs, bytes.sum(),
      expected, (System.nanoTime() - t0) / 1e9)
  }

  def open(spark: SparkSession, dir: File, seed: Long, info: InputInfo): Job =
    new XmlJob(this, spark, new File(dir, "input").getPath, seed, info,
      ExtractionConfig.fromXml(configXml))
}

/** Task-side timers and counters of one traced extraction. */
final class XmlAccs(@transient private val spark: SparkSession) extends Serializable {
  private def acc(): LongAccumulator = spark.sparkContext.longAccumulator
  val ingestNs, pipelineNs, scanNs, compileNs, evalNs, benchNs, formatNs = acc()
  val partitions, docs, docChars, starts, fragments, fragChars = acc()
  val xpathCalls, xpathErrors, tuples, rows = acc()
}

final class XmlJob(w: XmlWorkload, spark: SparkSession, in: String, seed: Long,
                   info: InputInfo, config: ExtractionConfig) extends Job {

  private def corpus(): DataFrame =
    if (w.sequenceFile) XmlExtraction.corpusFromSequenceFile(spark, in)
    else XmlExtraction.corpusFromXmlFiles(spark, in)

  private def check(out: File): () => Option[String] = () =>
    Checks.lines(s"${w.name} seed $seed", info.expected,
      (0 until w.spec.docs).flatMap(d => w.truth(XmlGen.store(w.spec, seed, d))), out)

  def run(out: File, tracer: Option[Tracer]): Ran = tracer match {
    case None =>
      XmlExtraction.run(corpus(), config).write.mode("overwrite").text(out.getPath)
      Ran(check(out))
    case Some(t) =>
      val acc = new XmlAccs(spark)
      val docs = t.span("ingest")(corpus())
      val rows = t.span("extract")(tracedRows(docs, acc))
      val lines = t.span("format")(XmlExtraction.formatLines(rows, config))
      t.span("sink") {
        import spark.implicits._
        val f = acc.formatNs
        lines.as[String].mapPartitions(it => new TimedIterator(it, f))
          .write.mode("overwrite").text(out.getPath)
      }
      Ran(check(out), (_, stats) => xmlLayers(acc, stats, out))
  }

  /**
   * `XmlExtraction.extractRows` composed from the program's public layer
   * calls, each timed per task: the input pull (ingest), `FragmentScanner.scan`
   * (scan), `StaxProjector.compile` + `StaxRuleEvaluator.eval` (xpath), and
   * the fill-down fold that `extractRows` runs around them (the remainder).
   */
  private def tracedRows(docs: DataFrame, acc: XmlAccs): DataFrame = {
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    val nrCols = config.nrOfColumns
    val starts = rules.map(_.startPattern).distinct
    val rows = docs.select("docId", "xml").as[(String, String)].mapPartitions { it =>
      acc.partitions.add(1)
      var t = System.nanoTime()
      val evals = rules.map { r =>
        new StaxRuleEvaluator(r.xpaths.toIndexedSeq.map(p => (p.order,
          StaxProjector.compile(p.xpath).getOrElse(sys.error(s"outside the StAX subset: ${p.xpath}")))))
      }
      acc.compileNs.add(System.nanoTime() - t)
      val out = new TimedIterator(it, acc.ingestNs).flatMap { case (docId, xml) =>
        t = System.nanoTime()
        acc.docs.add(1)
        acc.docChars.add(xml.length)
        acc.starts.add(starts.map(XmlJob.occurrences(xml, _)).sum)
        val t1 = System.nanoTime()
        acc.benchNs.add(t1 - t)
        val frags = FragmentScanner.scan(xml, rules)
        acc.scanNs.add(System.nanoTime() - t1)
        val columns = new Array[String](nrCols) // fill-down: never cleared within a document
        frags.iterator.flatMap { frag =>
          acc.fragments.add(1)
          acc.fragChars.add(frag.xml.length)
          val t2 = System.nanoTime()
          val tuples =
            try evals(frag.ruleIndex).eval(frag.xml).sortBy(_._1)
            catch { case _: Exception => acc.xpathErrors.add(1); Seq.empty }
          acc.evalNs.add(System.nanoTime() - t2)
          acc.xpathCalls.add(1)
          acc.tuples.add(tuples.size)
          tuples.flatMap { case (order, value) =>
            if (order >= 0 && order < nrCols) {
              columns(order) = value
              if (order == nrCols - 1) {
                acc.rows.add(1)
                Some((docId, frag.seq, columns.clone().toSeq))
              } else None
            } else None
          }
        }
      }
      new TimedIterator(out, acc.pipelineNs)
    }.toDF("docId", "seq", "cols")
    rows.select(col("docId") +: col("seq") +:
      (0 until nrCols).map(i => col("cols").getItem(i).as(s"c$i")): _*)
  }

  private def xmlLayers(a: XmlAccs, stats: RunStats, out: File): Map[String, Double] = {
    def s(acc: LongAccumulator): Double = acc.value / 1e9
    def ratio(n: Double, d: Double): Double = if (d > 0) n / d else 0.0
    // compilation runs before the pipeline's timed iterator; evaluation inside it
    val xpath = s(a.compileNs) + s(a.evalNs)
    val fold = s(a.pipelineNs) - s(a.ingestNs) - s(a.scanNs) - s(a.evalNs) - s(a.benchNs)
    val docMb = a.docChars.value / 1e6
    val parts = Checks.partFiles(out)
    Map(
      "ingest.busy_s" -> s(a.ingestNs),
      "ingest.partitions" -> a.partitions.value.toDouble,
      "ingest.files_per_s" -> ratio(a.docs.value.toDouble, s(a.ingestNs)),
      "scan.busy_s" -> s(a.scanNs),
      "scan.mb_s" -> ratio(docMb, s(a.scanNs)),
      "scan.fragments" -> a.fragments.value.toDouble,
      "scan.kept_frac" -> ratio(a.fragChars.value.toDouble, a.docChars.value.toDouble),
      "scan.accept_frac" -> ratio(a.fragments.value.toDouble, a.starts.value.toDouble),
      "xpath.busy_s" -> xpath,
      "xpath.calls" -> a.xpathCalls.value.toDouble,
      "xpath.us_per_call" -> ratio(xpath * 1e6, a.xpathCalls.value.toDouble),
      "xpath.tuples" -> a.tuples.value.toDouble,
      "xpath.errors" -> a.xpathErrors.value.toDouble,
      "fold.busy_s" -> fold,
      "fold.rows" -> a.rows.value.toDouble,
      "format.busy_s" -> (s(a.formatNs) - s(a.pipelineNs)),
      "sink.busy_s" -> (stats.runMsBySpan("sink") / 1e3 - s(a.formatNs)),
      "sink.mb" -> parts.map(_.length).sum / 1e6,
      "sink.files" -> parts.size.toDouble,
      // scan + xpath + fold per busy core-second: the fused path in memory
      "xml.extract_mb_s" -> ratio(docMb, s(a.scanNs) + xpath + fold))
  }

  override def domrefMbS(): Double = {
    import spark.implicits._
    val (ns, chars) = (spark.sparkContext.longAccumulator, spark.sparkContext.longAccumulator)
    corpus().select("xml").as[String].mapPartitions { docs =>
      val f = DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(true)
      val builder = f.newDocumentBuilder()
      docs.map { xml =>
        val t = System.nanoTime()
        builder.reset()
        val doc = builder.parse(new ByteArrayInputStream(xml.getBytes(StandardCharsets.UTF_8)))
        ns.add(System.nanoTime() - t)
        chars.add(xml.length)
        doc.getDocumentElement.getTagName.length
      }
    }.write.format("noop").mode("overwrite").save()
    chars.value / 1e6 / (ns.value / 1e9)
  }
}

object XmlJob {
  /** Non-overlapping occurrences of `p` in `s`: the scanner's candidates. */
  def occurrences(s: String, p: String): Long = {
    var n = 0L
    var i = s.indexOf(p)
    while (i >= 0) { n += 1; i = s.indexOf(p, i + p.length) }
    n
  }
}

// -----------------------------------------------------------------------------
// Near-duplicate detection: the operators layer
// -----------------------------------------------------------------------------

final case class NearDupWorkload(spec: TextSpec) extends Workload {
  val name = "neardup"
  val warmupJobs = 2
  val minIterations = 3
  private val (k, bands, threshold) = (36, 12, 0.8)

  def generate(session: () => SparkSession, dir: File, seed: Long): InputInfo = {
    val spark = session()
    import spark.implicits._
    val t0 = System.nanoTime()
    val clusters = TextGen.clusters(spec, seed)
    val member = TextGen.membership(clusters)
    val sp = spec
    val bytes = new LongAdder
    IntStream.range(0, spec.docs).parallel().forEach { d =>
      bytes.add(TextGen.text(sp, seed, d, member.get(d.toLong)).length)
    }
    val path = new File(dir, "input").getPath
    spark.range(0, sp.docs, 1, spark.sparkContext.defaultParallelism).as[Long]
      .map(id => (id, TextGen.text(sp, seed, id, member.get(id))))
      .toDF("id", "text").write.parquet(path)
    // the planted clusters are the truth; the open job recomputes them
    InputInfo(spec.docs, Checks.partFiles(new File(path)).size, bytes.sum(), new Digest,
      (System.nanoTime() - t0) / 1e9)
  }

  def open(spark: SparkSession, dir: File, seed: Long, info: InputInfo): Job = {
    val planted = TextGen.clusters(spec, seed)
    val path = new File(dir, "input").getPath
    new Job {
      def run(out: File, tracer: Option[Tracer]): Ran = {
        // jobs that run inside the program's calls, as opposed to the benchmark's actions
        def construct[T](body: => T): T = Tracer.phase(tracer, "construct")(body)
        val docs = Tracer.span(tracer, "dedup.shingle") {
          val shingled = construct(spark.read.parquet(path).select(col("id"),
            TextFunctions.shingles(col("text"), TextGen.ShingleWords).as("shingles")))
          shingled.localCheckpoint()
        }
        val candidates = Tracer.span(tracer, "dedup.candidates") {
          construct(Dedup.minhashCandidates(docs, k, bands)).localCheckpoint()
        }
        val pairs = Tracer.span(tracer, "dedup.verify") {
          construct(Dedup.verifyJaccardGated(candidates, docs, threshold)).localCheckpoint()
        }
        val components = Tracer.span(tracer, "dedup.components") {
          val c = construct(Dedup.components(pairs))
          c.write.format("noop").mode("overwrite").save()
          c
        }
        Ran(
          () => Checks.clusters(s"$name seed $seed", planted,
            components.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))),
          (run, stats) => {
            val (nc, nv) = (candidates.count().toDouble, pairs.count().toDouble)
            val t = tracer.get
            Map(
              "dedup.construct_s" -> stats.constructMs / 1e3,
              "dedup.shingle_s" -> t.seconds("dedup.shingle", run),
              "dedup.candidates_s" -> t.seconds("dedup.candidates", run),
              "dedup.candidate_pairs" -> nc,
              "dedup.verify_s" -> t.seconds("dedup.verify", run),
              "dedup.verified_pairs" -> nv,
              "dedup.verify_yield" -> (if (nc > 0) nv / nc else 0.0),
              "dedup.components_s" -> t.seconds("dedup.components", run))
          })
      }
    }
  }
}
