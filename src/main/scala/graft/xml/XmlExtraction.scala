package graft.xml

import java.io.{ByteArrayInputStream, StringReader}
import javax.xml.parsers.DocumentBuilderFactory
import javax.xml.xpath.{XPathConstants, XPathExpression, XPathFactory}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.w3c.dom.NodeList

import graft.config.{ExtractionConfig, ExtractionRule}

/** The intermediate tuple of the engine — the Spark shape of the reference's shuffle
 * records (`XmlReducerKeyWritable` + `XmlReducerValueWritable`):
 * (document id, stream position of the fragment, output column index, extracted value). */
final case class ExtractedTuple(docId: String, seq: Long, order: Int, value: String)

/**
 * The parity extraction engine: config-driven XML fragment extraction → XPath
 * projection → fill-down pivot → delimited rows, re-expressed on Spark.
 *
 * Two equivalent formulations are provided (tested for equality):
 *
 *  - [[XmlExtraction.extractRows]] — **fused, shuffle-free** (default): scan + XPath +
 *    streaming pivot fold inside one `mapPartitions`, one document at a time. This is
 *    the 100 TB path: a document is the unsplittable unit (same as the reference's
 *    non-splittable input format, `XmlExtractor.java:64-67`), so parallelism comes from
 *    document count and NO shuffle is needed — every transform is narrow.
 *
 *  - [[XmlExtraction.tuples]] + [[XmlExtraction.pivotRows]] — the **distributed
 *    formulation**: an explicit tuple Dataset followed by a window fill-down
 *    (`last(_, ignoreNulls = true)` over `partitionBy(docId).orderBy(seq, order)`),
 *    which reproduces the reference's shuffle + secondary sort + streaming reducer
 *    (`XmlReducerKeySortComparator.java:13-28`, `XmlExtractor.java:150-175`) when the
 *    tuples arrive from arbitrary partitions.
 */
object XmlExtraction {

  /** Column names of the pivoted output: c0..c{n-1}. */
  def columnNames(config: ExtractionConfig): Seq[String] =
    (0 until config.nrOfColumns).map(i => s"c$i")

  // ---------------------------------------------------------------------------
  // Corpus readers
  // ---------------------------------------------------------------------------

  /** Read a directory/glob of whole XML documents, one row per file, with a
   * deterministic docId (the file name). The reference keys documents by random UUID
   * (`SeqXmlRecordReader.java:171`, SURVEY.md §2.10 #8) — we make ids deterministic
   * for testability and document the divergence. */
  def corpusFromXmlFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", true).text(path)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("docId"),
        col("value").as("xml"))

  /** Read a reference-format SequenceFile corpus (`Text` uuid → `Text` xml document,
   * `CreateSequenceFile.java:37-51`).
   *
   * A document stays the indivisible unit, but the file does not: the read asks for at
   * least `defaultParallelism` splits (the session's core count, the target Spark's own
   * file scans use), so a single corpus file feeds every core. A split starts at the
   * first sync marker after its byte offset and ends at the first one after its end, so
   * every document lands in exactly one split. Input of at least cores × block size
   * already splits by block, and there the request changes nothing. */
  def corpusFromSequenceFile(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.io.Text
    import spark.implicits._
    spark.sparkContext
      .sequenceFile(path, classOf[Text], classOf[Text], spark.sparkContext.defaultParallelism)
      .map { case (k, v) => (k.toString, v.toString) }
      .toDF("docId", "xml")
  }

  /** Write a (docId, xml) corpus as a reference-format SequenceFile — the ingest
   * utility (`CreateSequenceFile.java:19-57`), distributed: each partition writes
   * its own SequenceFile part, so ingest scales with executor count instead of
   * the reference's single-JVM loop. */
  def corpusToSequenceFile(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select("docId", "xml").as[(String, String)].rdd
      .saveAsSequenceFile(path)
  }

  // ---------------------------------------------------------------------------
  // Fused path (default, shuffle-free)
  // ---------------------------------------------------------------------------

  /**
   * Full extraction in one narrow pass: for each document, scan fragments, evaluate
   * XPaths, and fold the tuples through the reference's streaming pivot (carry-forward
   * column array + row trigger on the last column, `XmlExtractor.java:150-175`).
   *
   * A document is never split across tasks: each input partition holds whole documents
   * (see [[corpusFromSequenceFile]] for how SequenceFile input splits).
   * Each partition builds its XPath evaluators once and reuses them for all its
   * fragments; they are partition-local and never shared between threads.
   *
   * Output schema: docId, seq (trigger tuple's stream position), c0..c{n-1}.
   */
  def extractRows(corpus: DataFrame, config: ExtractionConfig): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    val nrCols = config.nrOfColumns
    val rows = corpus.select("docId", "xml").as[(String, String)].mapPartitions { docs =>
      val eval = new XPathEvaluator(rules)
      docs.flatMap { case (docId, xml) =>
        val columns = new Array[String](nrCols) // never cleared between rows: fill-down
        FragmentScanner.scan(xml, rules).iterator.flatMap { frag =>
          eval.tuples(frag).flatMap { case (order, value) =>
            if (order >= 0 && order < nrCols) {
              columns(order) = value
              if (order == nrCols - 1)
                Some((docId, frag.seq, columns.clone().toSeq))
              else None
            } else None
          }
        }
      }
    }.toDF("docId", "seq", "cols")
    val cols = (0 until nrCols).map(i => col("cols").getItem(i).as(s"c$i"))
    rows.select(col("docId") +: col("seq") +: cols: _*)
  }

  // ---------------------------------------------------------------------------
  // Distributed formulation (explicit tuples + window fill-down)
  // ---------------------------------------------------------------------------

  /** Scan + XPath projection producing the intermediate tuple Dataset — the Spark
   * equivalent of the reference's map output (`XmlExtractor.java:111-112`). */
  def tuples(corpus: DataFrame, config: ExtractionConfig): Dataset[ExtractedTuple] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    corpus.select("docId", "xml").as[(String, String)].mapPartitions { docs =>
      val eval = new XPathEvaluator(rules)
      docs.flatMap { case (docId, xml) =>
        FragmentScanner.scan(xml, rules).iterator.flatMap { frag =>
          eval.tuples(frag).map { case (order, value) =>
            ExtractedTuple(docId, frag.seq, order, value)
          }
        }
      }
    }
  }

  /**
   * XPath projection over pre-scanned fragments — the bridge from the
   * `graft-xml` DataSource V2 scan ([[graft.sources.XmlFragmentSource]],
   * schema `docId, seq, rule, xml`) into the tuple pipeline: feed the result
   * to [[pivotRows]] for the fill-down pivot.
   */
  def tuplesFromFragments(fragments: DataFrame, config: ExtractionConfig): Dataset[ExtractedTuple] = {
    val spark = fragments.sparkSession
    import spark.implicits._
    val rules = config.rules.toIndexedSeq
    val idxByElement = rules.map(_.element).zipWithIndex.toMap
    fragments.select("docId", "seq", "rule", "xml")
      .as[(String, Long, String, String)].mapPartitions { rows =>
        val eval = new XPathEvaluator(rules)
        rows.flatMap { case (docId, seq, rule, xml) =>
          idxByElement.get(rule).iterator.flatMap { ri =>
            eval.tuples(Fragment(ri, seq, xml)).map { case (order, value) =>
              ExtractedTuple(docId, seq, order, value)
            }
          }
        }
      }
  }

  /**
   * Fill-down pivot over the tuple stream — the window formulation of the reference's
   * reducer (SURVEY.md §2.3 J1 / §2.4 A2): one shuffle on docId, secondary sort
   * (seq, order), `last(_, ignoreNulls)` carry-forward per column, row emitted at each
   * trigger tuple (`order == nrOfColumns - 1`).
   */
  def pivotRows(tuples: Dataset[ExtractedTuple], config: ExtractionConfig): DataFrame = {
    val nrCols = config.nrOfColumns
    val w = Window.partitionBy(col("docId")).orderBy(col("seq"), col("order"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled: Seq[Column] = (0 until nrCols).map { k =>
      last(when(col("order") === k, col("value")), ignoreNulls = true).over(w).as(s"c$k")
    }
    tuples.toDF()
      .select(col("docId") +: col("seq") +: col("order") +: filled: _*)
      .where(col("order") === config.triggerOrder)
      .drop("order")
  }

  // ---------------------------------------------------------------------------
  // Output formatting / sink
  // ---------------------------------------------------------------------------

  /**
   * Render pivoted rows to the reference's delimited-text shape: every column followed
   * by the output delimiter (INCLUDING the last), null/empty column → single space
   * (`XmlExtractor.java:159-172`). Returns a single-column ("line") DataFrame — write
   * with `.write.text(dir)` for byte parity (plain `.csv` would drop the trailing
   * delimiter).
   */
  def formatLines(rows: DataFrame, config: ExtractionConfig): DataFrame = {
    val pieces: Seq[Column] = columnNames(config).flatMap { c =>
      val v = col(c)
      Seq(when(v.isNull || v === "", lit(" ")).otherwise(v), lit(config.outputDelimiter))
    }
    rows.select(concat(pieces: _*).as("line"))
  }

  /** End-to-end convenience: corpus → extracted, formatted lines. */
  def run(corpus: DataFrame, config: ExtractionConfig): DataFrame =
    formatLines(extractRows(corpus, config), config)

  // ---------------------------------------------------------------------------
  // XPath evaluation (per-partition, compiled once)
  // ---------------------------------------------------------------------------

  /**
   * Per-partition XPath machinery, two engines behind one interface:
   *
   *  - **StAX fast path** ([[StaxRuleEvaluator]]): when EVERY projection of a
   *    rule fits the config grammar's XPath subset (`//steps/@attr`,
   *    `//steps/text()`), one pull-parse pass evaluates the whole rule with
   *    no DOM — this is the hot path for all shipped reference configs.
   *  - **DOM fallback**: any rule with an unsupported expression keeps full
   *    XPath — DOM parse each fragment, evaluate every expression as NODESET,
   *    concatenate matched nodes' `getNodeValue` with no separator
   *    (`XmlExtractor.java:97-117`); expressions that match nothing emit
   *    nothing; per-expression errors are swallowed (reference prints +
   *    drops, `:114-117`).
   */
  private final class XPathEvaluator(rules: IndexedSeq[ExtractionRule]) extends Serializable {
    // per rule: Right(stax) when the whole rule compiles to the subset
    private val engines: IndexedSeq[Either[IndexedSeq[(Int, XPathExpression)], StaxRuleEvaluator]] = {
      lazy val xpath = XPathFactory.newInstance().newXPath()
      rules.map { rule =>
        val subset = rule.xpaths.toIndexedSeq
          .map(p => StaxProjector.compile(p.xpath).map(c => (p.order, c)))
        if (subset.forall(_.isDefined))
          Right(new StaxRuleEvaluator(subset.flatten))
        else // stable sort: the DOM pass then yields tuples in the StAX pass's order
          Left(rule.xpaths.toIndexedSeq.sortBy(_.order).map(p => (p.order, xpath.compile(p.xpath))))
      }
    }
    private lazy val builder = {
      val f = DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(true)
      // a CDATA section and its neighbouring text are one XPath text node; without
      // coalescing, NodeList.item yields only that node's first DOM piece
      f.setCoalescing(true)
      f.newDocumentBuilder()
    }

    /** A fragment's tuples ordered by `order`, as the reference's shuffle delivers
     * them to the reducer (`XmlReducerKeySortComparator.java:21-24`): both engines
     * produce that order themselves, so the fused fold sees the reducer's sequence. */
    def tuples(frag: Fragment): Seq[(Int, String)] = {
      try {
        engines(frag.ruleIndex) match {
          case Right(stax) => stax.eval(frag.xml)
          case Left(compiled) =>
            builder.reset()
            val doc = builder.parse(new ByteArrayInputStream(frag.xml.getBytes("UTF-8")))
            compiled.flatMap { case (order, expr) =>
              try {
                val nodes = expr.evaluate(doc, XPathConstants.NODESET).asInstanceOf[NodeList]
                if (nodes.getLength > 0) {
                  val sb = new StringBuilder
                  var i = 0
                  while (i < nodes.getLength) { sb.append(nodes.item(i).getNodeValue); i += 1 }
                  Some((order, sb.toString))
                } else None
              } catch { case _: Exception => None }
            }
        }
      } catch { case _: Exception => Seq.empty } // unparseable fragment: all tuples dropped
    }
  }
}
