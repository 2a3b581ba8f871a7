package graft.xml

import java.io.{ByteArrayInputStream, IOException, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileVisitOption, FileVisitResult, Files, NoSuchFileException, Paths, SimpleFileVisitor, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.regex.Pattern
import javax.xml.parsers.DocumentBuilderFactory
import javax.xml.xpath.{XPathConstants, XPathExpression, XPathFactory}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.{FileSplit, SequenceFileRecordReader}
import org.apache.spark.TaskContext
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.w3c.dom.NodeList

import graft.config.{ExtractionConfig, ExtractionRule}

/** The intermediate tuple of the engine — the Spark shape of the reference's shuffle
 * records (`XmlReducerKeyWritable` + `XmlReducerValueWritable`):
 * (document id, stream position of the fragment, output column index, extracted value). */
final case class ExtractedTuple(docId: String, seq: Long, order: Int, value: String)

/** One input file of a whole-document read: its qualified path, its length in bytes and
 * its docId ([[XmlExtraction.docId]]). */
final case class XmlFile(path: String, length: Long, docId: String)

/** Reads whole documents, decoded as UTF-8: a file whose extension names a Hadoop codec
 * (`.gz`, `.bz2`, ...) is decompressed, as Spark's `wholetext` reader does. Both file
 * readers read through one per task. Every path a reader is given comes from one
 * listing, so it resolves the filesystem, and whether that is Hadoop's
 * `LocalFileSystem`, once, from the first path.
 *
 * A plain file on `LocalFileSystem` with no `.<name>.crc` sibling is read with one
 * `Files.readAllBytes`. Everything else takes one Hadoop `open`: other filesystems,
 * files a codec decompresses, and files with a `.crc` sibling, whose checksum Hadoop
 * verifies. Measured on a 4-vCPU box over 1000 files of 7 KB, a file cost about 17 µs
 * on the local branch with the filesystem resolved per file, about 6 µs of it the
 * resolution, and about 63 µs through `LocalFileSystem`, which checks the file's status
 * twice and tries to open the missing checksum file. `viaHadoop` takes Hadoop's branch
 * on the local filesystem too, so the two can be compared. */
private[graft] final class XmlFileReader(conf: Configuration, codecs: CompressionCodecFactory,
                                         viaHadoop: Boolean) {
  def this(conf: Configuration, viaHadoop: Boolean = false) =
    this(conf, new CompressionCodecFactory(conf), viaHadoop)

  private var fs: FileSystem = _
  private var local = false

  def read(path: String): String = {
    val p = new Path(path)
    if (fs == null) {
      fs = p.getFileSystem(conf)
      local = !viaHadoop && fs.isInstanceOf[LocalFileSystem]
    }
    val codec = codecs.getCodec(p)
    val file = if (codec != null || !local) None
      else Some(Paths.get((if (p.isUriPathAbsolute) p else fs.makeQualified(p)).toUri.getPath))
        .filterNot(f => Files.exists(f.resolveSibling(s".${f.getFileName}.crc")))
    val bytes = file match {
      case Some(f) => Files.readAllBytes(f)
      case None =>
        val raw = fs.open(p)
        val in: InputStream = if (codec == null) raw else codec.createInputStream(raw)
        try in.readAllBytes() finally in.close()
    }
    new String(bytes, StandardCharsets.UTF_8)
  }
}

/**
 * The per-document pipeline, defined once: scan a document into fragments, evaluate
 * their XPaths into `(order, value)` tuples (the reference's mapper,
 * `XmlExtractor.java:97-117`), fold those into fill-down rows (its reducer,
 * `XmlExtractor.java:150-175`). Every [[XmlExtraction]] entry point wraps it in
 * `mapPartitions`: one instance per partition, called from one thread, since it owns
 * the partition's [[XPathEvaluator]] and its reused buffers.
 */
final class ExtractionKernel(config: ExtractionConfig) {
  private val rules = config.rules.toIndexedSeq
  private val eval = new XPathEvaluator(rules)
  private val trigger = config.triggerOrder
  private val delimiter = config.outputDelimiter
  private val line = new java.lang.StringBuilder

  /** A document's fragments, in document order. */
  def scan(xml: String): Iterator[Fragment] = FragmentScanner.scan(xml, rules).iterator

  /** One fragment's tuples, ordered by `order` as the reference's shuffle delivers them
   * to the reducer (`XmlReducerKeySortComparator.java:21-24`). */
  def tuples(docId: String, frag: Fragment): Iterator[ExtractedTuple] =
    eval.tuples(frag).iterator.map { case (o, v) => ExtractedTuple(docId, frag.seq, o, v) }

  /** Scan → evaluate → fold: each `config.triggerOrder` tuple emits (docId, its seq,
   * the columns). */
  def rows(docId: String, xml: String): Iterator[(String, Long, Seq[String])] =
    fold(xml)((seq, columns) => (docId, seq, columns.toSeq))

  /** [[rows]] as the reference's output lines, rendered straight from the fold's
   * columns by [[XmlExtraction.delimitedLines]]' rule: every column followed by the
   * output delimiter, null or empty written as one space. */
  def lines(xml: String): Iterator[String] =
    fold(xml) { (_, columns) =>
      line.setLength(0)
      var i = 0
      while (i < columns.length) {
        val v = columns(i)
        line.append(if (v == null || v.isEmpty) " " else v).append(delimiter)
        i += 1
      }
      line.toString
    }

  /** Fragments dropped whole because no engine could parse them, and single XPath
   * results dropped because their expression failed, so far. The reference drops both
   * without a trace (`XmlExtractor.java:114-117`); the kernel keeps those semantics but
   * counts them. */
  def unparseableFragments: Long = eval.unparseable
  def failedExpressions: Long = eval.failed

  /** The fill-down fold: the column array is never cleared within a document, and
   * each trigger tuple calls `emit(its seq, the columns)`. The array is live, so
   * `emit` copies what it keeps. */
  private def fold[R](xml: String)(emit: (Long, Array[String]) => R): Iterator[R] = {
    val columns = new Array[String](config.nrOfColumns)
    scan(xml).flatMap { frag =>
      eval.tuples(frag).flatMap { case (order, value) =>
        columns(order) = value
        if (order == trigger) Some(emit(frag.seq, columns)) else None
      }
    }
  }
}

object ExtractionKernel {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[ExtractionKernel])

  /** The kernel of the running task: when the task ends, a WARN names what it
   * dropped, if anything ([[ExtractionKernel.unparseableFragments]],
   * [[ExtractionKernel.failedExpressions]]). */
  def forTask(config: ExtractionConfig): ExtractionKernel = {
    val kernel = new ExtractionKernel(config)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { ctx =>
      val (frags, exprs) = (kernel.unparseableFragments, kernel.failedExpressions)
      if (frags > 0 || exprs > 0)
        log.warn(s"XML extraction, stage ${ctx.stageId()} partition ${ctx.partitionId()}: " +
          s"dropped $frags unparseable fragment(s) and $exprs failed XPath result(s), " +
          "as the reference does")
    })
    kernel
  }
}

/**
 * The parity extraction engine: config-driven XML fragment extraction → XPath
 * projection → fill-down pivot → delimited rows, re-expressed on Spark. Two equal
 * formulations (tested for equality):
 *
 *  - [[XmlExtraction.extractRows]] — **fused, shuffle-free** (default): the kernel's
 *    fold, one document at a time. A document is the unsplittable unit (as in the
 *    reference's non-splittable input format, `XmlExtractor.java:64-67`), so
 *    parallelism comes from document count and every transform is narrow.
 *  - [[XmlExtraction.tuples]] + [[XmlExtraction.pivotRows]] — the **window**
 *    reference: a tuple Dataset, then `last(_, ignoreNulls = true)` over
 *    `partitionBy(docId).orderBy(seq, order)` — the reference's shuffle + secondary
 *    sort + streaming reducer (`XmlReducerKeySortComparator.java:13-28`).
 */
object XmlExtraction {

  /** Column names of the pivoted output: c0..c{n-1}. */
  def columnNames(config: ExtractionConfig): Seq[String] =
    (0 until config.nrOfColumns).map(i => s"c$i")

  // ---------------------------------------------------------------------------
  // Corpus readers
  // ---------------------------------------------------------------------------

  /** Read a directory/glob of whole XML documents, one row per file. The docId is the
   * file's path relative to the deepest glob-free directory of `path`, so a flat
   * directory keeps bare file names and `tree/a/x.xml`, `tree/b/x.xml` stay apart. The
   * reference keys documents by random UUID (`SeqXmlRecordReader.java:171`, SURVEY.md
   * §2.10 #8) — we make ids deterministic for testability.
   *
   * The files are those of [[listXmlFiles]] (a missing path fails naming it), packed
   * by [[packFiles]] into at least `defaultParallelism` partitions of whole files, so
   * a directory of small documents still feeds every core. A task reads each of its
   * files with one [[XmlFileReader]]. On the local filesystem both go through `java.nio`
   * (see [[listXmlFiles]] and [[XmlFileReader]] for what still takes Hadoop's calls):
   * `extract_sparse`, 1000 files of about 7 KB, is the regime where that pays. */
  def corpusFromXmlFiles(spark: SparkSession, path: String): DataFrame =
    corpusFromXmlFiles(spark, path, viaHadoop = false)

  /** [[corpusFromXmlFiles]]; `viaHadoop` lists and reads a local path with Hadoop's
   * calls, as every other filesystem is, so the two branches can be compared. */
  private[xml] def corpusFromXmlFiles(spark: SparkSession, path: String, viaHadoop: Boolean): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val maxBytes = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val groups = packFiles(listXmlFiles(path, sc.hadoopConfiguration, viaHadoop), sc.defaultParallelism, maxBytes)
    val props = confProps(sc.hadoopConfiguration)
    sc.parallelize(groups, groups.size.max(1)).mapPartitions { group =>
      val reader = new XmlFileReader(confFrom(props), viaHadoop)
      group.flatten.map(f => (f.docId, reader.read(f.path)))
    }.toDF("docId", "xml")
  }

  /** A Hadoop conf's resolved properties, to rebuild it in a task with [[confFrom]]:
   * `Configuration` is not Serializable, and filesystem settings and credentials
   * (`fs.defaultFS`, S3A keys, ...) must survive the trip. */
  private[graft] def confProps(conf: Configuration): Array[(String, String)] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray

  /** The Hadoop conf [[confProps]] shipped. */
  private[graft] def confFrom(props: Array[(String, String)]): Configuration = {
    val conf = new Configuration(false)
    props.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** One whole document, decoded as UTF-8, read by a one-file [[XmlFileReader]]. */
  def readXmlFile(path: String, conf: Configuration, codecs: CompressionCodecFactory): String =
    readXmlFile(path, conf, codecs, viaHadoop = false)

  /** [[readXmlFile]]; `viaHadoop` opens a local file with Hadoop's calls too. */
  private[xml] def readXmlFile(path: String, conf: Configuration, codecs: CompressionCodecFactory,
                               viaHadoop: Boolean): String =
    new XmlFileReader(conf, codecs, viaHadoop).read(path)

  /** The files a whole-document read of `path` covers, sorted by path, each with its
   * [[docId]]. `path` is a file, a directory or a glob; directories are walked
   * recursively, following links. Spark's hidden-path rule applies to files and
   * directories alike, wherever the glob or the walk meets them: a name starting with
   * `_` or `.` (`_SUCCESS`, `_temporary/`, `.x.crc`), or ending in `._COPYING_`, is
   * skipped with everything below it. A glob-free `path` is read even when its own
   * name is hidden. A path that does not exist, or a glob that matches nothing, fails
   * with `PATH_NOT_FOUND`.
   *
   * Hadoop's `globStatus` expands the path on every filesystem. Below each root it
   * returns, a directory on Hadoop's `LocalFileSystem` is walked with one `java.nio`
   * `walkFileTree`, which yields the statuses `listStatus` would (same paths, lengths
   * and block size); any other filesystem is walked with `listStatus`. Measured on a
   * 4-vCPU box, this lists a directory of 1000 files in about 8 ms, and in about 17 ms
   * with `listStatus` on `LocalFileSystem`. */
  def listXmlFiles(path: String, conf: Configuration): IndexedSeq[XmlFile] =
    listXmlFiles(path, conf, viaHadoop = false)

  /** [[listXmlFiles]]; `viaHadoop` walks a local directory with `listStatus` too. */
  private[xml] def listXmlFiles(path: String, conf: Configuration, viaHadoop: Boolean): IndexedSeq[XmlFile] = {
    val base = docIdBase(path, conf)
    listInputs(path, conf, viaHadoop).map(st => XmlFile(st.getPath.toString, st.getLen, docId(st.getPath, base)))
  }

  /** The lister behind [[listXmlFiles]] and [[corpusFromSequenceFile]]: the input
   * files' statuses, sorted by path, by [[listXmlFiles]]' rules. */
  private[xml] def listInputs(path: String, conf: Configuration, viaHadoop: Boolean = false): IndexedSeq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val roots = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
    if (roots.isEmpty)
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
    val local = !viaHadoop && fs.isInstanceOf[LocalFileSystem]
    def walk(st: FileStatus, named: Boolean): Iterator[FileStatus] =
      if (!named && hidden(st.getPath.getName)) Iterator.empty
      else if (!st.isDirectory) Iterator(st)
      else if (local) walkLocal(fs, st.getPath)
      else fs.listStatus(st.getPath).iterator.flatMap(walk(_, named = false))
    val literal = !path.exists(GlobChars.contains(_))
    // each key rendered once, not once per comparison
    roots.iterator.flatMap(walk(_, literal)).map(st => (st.getPath.toString, st)).toIndexedSeq
      .sortBy(_._1).map(_._2)
  }

  /** Spark's hidden-path rule for input listing. */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")

  /** The files below local directory `dir`, with the statuses `LocalFileSystem`'s
   * `listStatus` walk gives them: links followed, hidden names skipped below `dir`,
   * a dangling link or an entry that vanishes during the walk left out, each path
   * qualified from its file path and each block size the filesystem's default. */
  private def walkLocal(fs: FileSystem, dir: Path): Iterator[FileStatus] = {
    val (uri, cwd, blockSize) = (fs.getUri, fs.getWorkingDirectory, fs.getDefaultBlockSize(dir))
    val root = Paths.get(dir.toUri.getPath)
    val files = IndexedSeq.newBuilder[FileStatus]
    Files.walkFileTree(root, java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS), Int.MaxValue,
      new SimpleFileVisitor[NioPath] {
        override def preVisitDirectory(d: NioPath, a: BasicFileAttributes): FileVisitResult =
          if (d != root && hidden(d.getFileName.toString)) FileVisitResult.SKIP_SUBTREE
          else FileVisitResult.CONTINUE
        override def visitFile(f: NioPath, a: BasicFileAttributes): FileVisitResult = {
          // a link the walk could not follow is dangling
          if (!a.isSymbolicLink && !hidden(f.getFileName.toString))
            files += new FileStatus(a.size, false, 1, blockSize, a.lastModifiedTime.toMillis,
              new Path(f.toString).makeQualified(uri, cwd))
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: NioPath, e: IOException): FileVisitResult = e match {
          case _: NoSuchFileException => FileVisitResult.CONTINUE
          case _ => throw e
        }
      })
    files.result().iterator
  }

  /** Whole files → contiguous groups in path order, balanced by bytes: at least
   * `minGroups` of them (never more than there are files), none above `maxBytes`
   * except a single file larger than that, which sits alone. Each group takes the
   * files up to its even share of the bytes still unassigned, rounding at file
   * midpoints, so small files spread evenly over the cores. */
  def packFiles(files: IndexedSeq[XmlFile], minGroups: Int, maxBytes: Long): IndexedSeq[IndexedSeq[XmlFile]] = {
    val total = files.iterator.map(_.length).sum
    val wanted = math.min(files.size.toLong, math.max(minGroups.toLong, (total + maxBytes - 1) / maxBytes))
    val groups = IndexedSeq.newBuilder[IndexedSeq[XmlFile]]
    val current = IndexedSeq.newBuilder[XmlFile]
    var closed = 0L // groups emitted so far
    var left = total // bytes not yet in an emitted group
    var bytes = 0L // bytes in the current group
    var n = 0 // files in the current group
    for ((f, i) <- files.iterator.zipWithIndex) {
      val share = left.toDouble / (wanted - closed).max(1)
      val mustOpen = files.size - i <= wanted - closed - 1 // one file left per group still wanted
      if (n > 0 && (bytes + f.length > maxBytes || bytes + f.length / 2.0 > share || mustOpen)) {
        groups += current.result(); current.clear()
        closed += 1; left -= bytes; bytes = 0L; n = 0
      }
      current += f; bytes += f.length; n += 1
    }
    if (n > 0) groups += current.result()
    groups.result()
  }

  /** Read a reference-format SequenceFile corpus (`Text` uuid → `Text` xml document,
   * `CreateSequenceFile.java:37-51`): a file, a directory of parts or a glob, listed by
   * [[listXmlFiles]]' rules (hidden names such as `_SUCCESS` skipped, directories
   * walked, a missing path fails with `PATH_NOT_FOUND`).
   *
   * [[sequenceFileSplits]] cuts the files into byte ranges of min(block size,
   * ⌈total bytes ÷ `defaultParallelism`⌉), so a single corpus file feeds every core,
   * and input of at least cores × block size splits by block. Each range is one
   * partition, read with Hadoop's `SequenceFileRecordReader`, which starts at the
   * first sync marker inside its range and reads on to the first one past its end,
   * so every document lands in exactly one split. Ranges carry no host preference,
   * as the XML file reader's groups do not. */
  def corpusFromSequenceFile(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val splits = sequenceFileSplits(listInputs(path, sc.hadoopConfiguration), sc.defaultParallelism)
    val props = confProps(sc.hadoopConfiguration)
    val docs = sc.parallelize(splits, splits.size.max(1)).mapPartitions { ranges =>
      val conf = confFrom(props)
      ranges.flatMap(readSequenceFile(_, conf))
    }
    spark.createDataset(docs)(Encoders.tuple(Encoders.STRING, Encoders.STRING)).toDF("docId", "xml")
  }

  /** A byte range of one file: the fields of a Hadoop `FileSplit`. */
  final case class FileRange(path: String, start: Long, length: Long)

  /** `FileInputFormat`'s split rule: each file is cut into ranges of min(its block
   * size, ⌈total bytes of `files` ÷ `minSplits`⌉), and a last range up to 10% longer
   * than that (`SPLIT_SLOP`) is not cut again. An empty file holds no record and gets
   * no range. */
  def sequenceFileSplits(files: IndexedSeq[FileStatus], minSplits: Int): IndexedSeq[FileRange] = {
    val n = minSplits.max(1)
    val goal = ((files.iterator.map(_.getLen).sum + n - 1) / n).max(1L)
    files.flatMap { f =>
      val size = if (f.getBlockSize > 0) math.min(goal, f.getBlockSize) else goal
      val (path, len) = (f.getPath.toString, f.getLen)
      var left = len
      val ranges = IndexedSeq.newBuilder[FileRange]
      while (left.toDouble / size > 1.1) { ranges += FileRange(path, len - left, size); left -= size }
      if (left > 0) ranges += FileRange(path, len - left, left)
      ranges.result()
    }
  }

  /** The (key, value) records of a reference-format SequenceFile whose sync-marked
   * blocks start inside `range`, as Strings; the reader closes at the end. */
  private def readSequenceFile(range: FileRange, conf: Configuration): Iterator[(String, String)] = {
    val split = new FileSplit(new Path(range.path), range.start, range.length, Array.empty[String])
    val reader = new SequenceFileRecordReader[Text, Text](conf, split)
    val (key, value) = (reader.createKey(), reader.createValue())
    new Iterator[(String, String)] {
      private var ahead = advance()
      private def advance(): Boolean = {
        val more = reader.next(key, value)
        if (!more) reader.close()
        more
      }
      def hasNext: Boolean = ahead
      def next(): (String, String) = {
        val record = (key.toString, value.toString)
        ahead = advance()
        record
      }
    }
  }

  /** Write a (docId, xml) corpus as a reference-format SequenceFile — the ingest
   * utility (`CreateSequenceFile.java:19-57`), distributed: each partition writes its
   * own part, so ingest scales with executor count, not one JVM's loop. */
  def corpusToSequenceFile(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select("docId", "xml").as[(String, String)].rdd
      .saveAsSequenceFile(path)
  }

  /** The characters that make a load path a glob for Hadoop's `globStatus`. */
  private val GlobChars = "*?[{\\"

  /** The docId rule of every file reader: a file's docId is its path relative to the
   * deepest glob-free directory of the load path — the load path itself when it is a
   * directory (or does not exist yet), its parent when it is a file. */
  def docIdBase(path: String, conf: Configuration): Path = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val q = fs.makeQualified(p)
    Iterator.iterate(q)(_.getParent).takeWhile(_ != null)
      .filter(_.getName.exists(GlobChars.contains(_))).toSeq.lastOption.map(_.getParent)
      .getOrElse(if (fs.exists(q) && fs.getFileStatus(q).isFile) q.getParent else q)
  }

  /** A file's docId: its path relative to `base` ([[docIdBase]]). */
  def docId(file: Path, base: Path): String =
    file.toUri.getPath.stripPrefix(base.toUri.getPath.stripSuffix("/") + "/")

  /** [[docId]] of the files read from load path `path`, as a built-in expression over
   * `input_file_name()`, a percent-encoded URI: drop scheme, authority and the base
   * directory, then decode (a literal `+` stays `+`). */
  def docIdColumn(spark: SparkSession, path: String): Column = {
    val base = docIdBase(path, spark.sparkContext.hadoopConfiguration).toUri.getRawPath
    val prefix = "^[^:/]+:(//[^/]*)?" + Pattern.quote(base.stripSuffix("/") + "/")
    url_decode(regexp_replace(regexp_replace(input_file_name(), prefix, ""), "\\+", "%2B"))
  }

  // ---------------------------------------------------------------------------
  // Fused path (default, shuffle-free)
  // ---------------------------------------------------------------------------

  /** Full extraction in one narrow pass, [[ExtractionKernel.rows]] per document; each
   * input partition holds whole documents. Output schema: docId, seq (the trigger
   * tuple's stream position), c0..c{n-1}. */
  def extractRows(corpus: DataFrame, config: ExtractionConfig): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus.select("docId", "xml").as[(String, String)].mapPartitions { docs =>
      val kernel = ExtractionKernel.forTask(config)
      docs.flatMap { case (docId, xml) => kernel.rows(docId, xml) }
    }.toDF("docId", "seq", "cols")
    val cols = columnNames(config).zipWithIndex.map { case (c, i) => col("cols").getItem(i).as(c) }
    rows.select(col("docId") +: col("seq") +: cols: _*)
  }

  // ---------------------------------------------------------------------------
  // Window formulation (explicit tuples + window fill-down)
  // ---------------------------------------------------------------------------

  /** Scan + XPath projection producing the intermediate tuple Dataset — the Spark
   * equivalent of the reference's map output (`XmlExtractor.java:111-112`). */
  def tuples(corpus: DataFrame, config: ExtractionConfig): Dataset[ExtractedTuple] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select("docId", "xml").as[(String, String)].mapPartitions { docs =>
      val kernel = ExtractionKernel.forTask(config)
      docs.flatMap { case (docId, xml) => kernel.scan(xml).flatMap(kernel.tuples(docId, _)) }
    }
  }

  /** XPath projection over pre-scanned fragments — the bridge from the `graft-xml`
   * DataSource V2 scan ([[graft.sources.XmlFragmentSource]], schema
   * `docId, seq, rule, xml`) to [[pivotRows]]. */
  def tuplesFromFragments(fragments: DataFrame, config: ExtractionConfig): Dataset[ExtractedTuple] = {
    val spark = fragments.sparkSession
    import spark.implicits._
    val idxByElement = config.rules.map(_.element).zipWithIndex.toMap
    fragments.select("docId", "seq", "rule", "xml")
      .as[(String, Long, String, String)].mapPartitions { rows =>
        val kernel = ExtractionKernel.forTask(config)
        rows.flatMap { case (docId, seq, rule, xml) =>
          idxByElement.get(rule).iterator.flatMap(ri => kernel.tuples(docId, Fragment(ri, seq, xml)))
        }
      }
  }

  /** Fill-down pivot over the tuple stream — the window formulation of the reference's
   * reducer (SURVEY.md §2.3 J1 / §2.4 A2): one shuffle on docId, secondary sort
   * (seq, order), `last(_, ignoreNulls)` carry-forward per column, a row at each
   * `config.triggerOrder` tuple. */
  def pivotRows(tuples: Dataset[ExtractedTuple], config: ExtractionConfig): DataFrame = {
    val w = Window.partitionBy(col("docId")).orderBy(col("seq"), col("order"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled: Seq[Column] = columnNames(config).zipWithIndex.map { case (c, k) =>
      last(when(col("order") === k, col("value")), ignoreNulls = true).over(w).as(c)
    }
    tuples.toDF()
      .select(col("docId") +: col("seq") +: col("order") +: filled: _*)
      .where(col("order") === config.triggerOrder)
      .drop("order")
  }

  // ---------------------------------------------------------------------------
  // Output formatting / sink
  // ---------------------------------------------------------------------------

  /** Render every column of `df` in the reference's delimited-text shape: each column
   * followed by the delimiter (INCLUDING the last), null/empty → one space
   * (`XmlExtractor.java:159-172`). One "line" column: write it with `.write.text(dir)`
   * for byte parity (`.csv` would drop the trailing delimiter). */
  def delimitedLines(df: DataFrame, delimiter: String): DataFrame = {
    val pieces: Seq[Column] = df.columns.toSeq.flatMap { c =>
      val v = col(c)
      Seq(when(v.isNull || v === "", lit(" ")).otherwise(v), lit(delimiter))
    }
    df.select(concat(pieces: _*).as("line"))
  }

  /** Pivoted rows → the reference's output lines: the config's columns, rendered by
   * [[delimitedLines]] with the output delimiter. */
  def formatLines(rows: DataFrame, config: ExtractionConfig): DataFrame =
    delimitedLines(rows.select(columnNames(config).map(col): _*), config.outputDelimiter)

  /** End to end: a (docId, xml) corpus → the reference's output lines, one `line`
   * column, equal to `formatLines(extractRows(corpus, config), config)`. One narrow
   * pass: each task renders its rows with [[ExtractionKernel.lines]] straight from the
   * fold's columns into the line, so no typed row, `Seq` or per-column expression is
   * built in between. The CLI, the SQL `<prefix>_lines` view and streaming lines all
   * run this. */
  def run(corpus: DataFrame, config: ExtractionConfig): DataFrame =
    corpus.select("xml").as(Encoders.STRING).mapPartitions { docs =>
      val kernel = ExtractionKernel.forTask(config)
      docs.flatMap(kernel.lines)
    }(Encoders.STRING).toDF("line")
}

/**
 * Per-partition XPath machinery of [[ExtractionKernel]], two engines per rule:
 *
 *  - **StAX fast path** ([[StaxRuleEvaluator]]): when EVERY projection of a rule fits
 *    the config grammar's subset (`//steps/@attr`, `//steps/text()`), one pull-parse
 *    pass evaluates the whole rule with no DOM — the path of all shipped configs.
 *  - **DOM fallback**: full XPath — DOM parse the fragment, evaluate each expression
 *    as NODESET, concatenate the matched nodes' `getNodeValue` with no separator
 *    (`XmlExtractor.java:97-117`); no match emits nothing, and per-expression errors
 *    drop that result (reference prints + drops, `:114-117`).
 *
 * A fragment neither engine can parse yields no tuples. Both kinds of drop are
 * counted (`unparseable`, `failed`) for [[ExtractionKernel.forTask]]'s WARN.
 */
private[xml] final class XPathEvaluator(rules: IndexedSeq[ExtractionRule]) {
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
  // drops so far: whole fragments no engine could parse, single failed expressions
  var unparseable = 0L
  var failed = 0L
  private lazy val builder = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    // a CDATA section and its neighbouring text are one XPath text node; without
    // coalescing, NodeList.item yields only that node's first DOM piece
    f.setCoalescing(true)
    f.newDocumentBuilder()
  }

  /** A fragment's tuples ordered by `order`, as the reference's shuffle delivers them
   * to the reducer (`XmlReducerKeySortComparator.java:21-24`): both engines
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
            } catch { case _: Exception => failed += 1; None }
          }
      }
    } catch { case _: Exception => unparseable += 1; Seq.empty } // all tuples dropped
  }
}
