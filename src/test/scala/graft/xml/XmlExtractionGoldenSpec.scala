package graft.xml

import graft.SparkSpec
import graft.config.ExtractionConfig

/**
 * Golden end-to-end parity: both reference example extractions
 * (`/root/reference/scripts/run.sh:23-27`) over both store documents, asserted against
 * the analytically derived goldens in FIXTURES.md §3. Cross-document order is
 * nondeterministic in the reference (random UUID keys) so we compare sorted.
 */
class XmlExtractionGoldenSpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    Seq(
      ("InventorySoho.xml", resourceText("InventorySoho.xml")),
      ("InventoryBanks.xml", resourceText("InventoryBanks.xml"))
    ).toDF("docId", "xml")
  }

  private val goldenInventory = Seq(
    "SohoBooks;11553377;January;3;bk101;10;",
    "SohoBooks;11553377;January;3;bk102;3;",
    "SohoBooks;11553377;January;3;bk103;22;",
    "SohoBooks;11553377;January;3;bk106;13;",
    "SohoBooks;11553377;January;3;bk107;20;",
    "SohoBooks;11553377;January;3;bk108;4;",
    "SohoBooks;11553377;February;2;bk101;17;",
    "SohoBooks;11553377;February;2;bk103;32;",
    "SohoBooks;11553377;February;2;bk106;23;",
    "SohoBooks;11553377;February;2;bk107;2;",
    "SohoBooks;11553377;February;2;bk108;3;",
    "BanksBooks;22446688;January;4;bk103;1;",
    "BanksBooks;22446688;January;4;bk104;12;",
    "BanksBooks;22446688;January;4;bk105;3;",
    "BanksBooks;22446688;January;4;bk106;12;",
    "BanksBooks;22446688;January;4;bk107;40;",
    "BanksBooks;22446688;January;4;bk108;2;",
    "BanksBooks;22446688;January;4;bk109;3;",
    "BanksBooks;22446688;January;4;bk110;14;",
    "BanksBooks;22446688;January;4;bk111;8;",
    "BanksBooks;22446688;January;4;bk112;5;",
    "BanksBooks;22446688;February;1;bk103;1;",
    "BanksBooks;22446688;February;1;bk104;3;",
    "BanksBooks;22446688;February;1;bk105;2;",
    "BanksBooks;22446688;February;1;bk106;17;",
    "BanksBooks;22446688;February;1;bk107;40;",
    "BanksBooks;22446688;February;1;bk108;1;",
    "BanksBooks;22446688;February;1;bk110;24;",
    "BanksBooks;22446688;February;1;bk111;3;",
    "BanksBooks;22446688;February;1;bk112;7;"
  ).sorted

  private val goldenBook = Seq(
    "SohoBooks;11553377;January;3;bk106;13;",
    "SohoBooks;11553377;February;2;bk106;23;",
    "BanksBooks;22446688;January;4;bk106;12;",
    "BanksBooks;22446688;February;1;bk106;17;"
  ).sorted

  private def lines(configName: String): Seq[String] = {
    val config = ExtractionConfig.fromXml(resourceText(configName))
    XmlExtraction.run(corpus, config).collect().map(_.getString(0)).toSeq.sorted
  }

  test("ExtractInventory golden: 30 rows, byte-exact (fused path)") {
    assert(lines("ExtractInventory.xml") == goldenInventory)
  }

  test("ExtractBook golden: bk106 filter, 4 rows (fused path)") {
    assert(lines("ExtractBook.xml") == goldenBook)
  }

  test("window formulation produces identical rows to the fused path") {
    for (name <- Seq("ExtractInventory.xml", "ExtractBook.xml")) {
      val config = ExtractionConfig.fromXml(resourceText(name))
      val fused = XmlExtraction.formatLines(XmlExtraction.extractRows(corpus, config), config)
        .collect().map(_.getString(0)).toSeq.sorted
      val windowed = XmlExtraction.formatLines(
        XmlExtraction.pivotRows(XmlExtraction.tuples(corpus, config), config), config)
        .collect().map(_.getString(0)).toSeq.sorted
      assert(fused == windowed, s"paths diverge for $name")
    }
  }

  test("never-populated column renders as a single space") {
    import spark.implicits._
    // trigger (order 1) arrives before any order-0 fragment exists
    val config = ExtractionConfig.fromProperties(Map(
      ExtractionConfig.DelimiterKey -> ";",
      ExtractionConfig.SortOrderDelimiterKey -> "#",
      ExtractionConfig.OutputDelimiterKey -> "|",
      ExtractionConfig.NodesKey -> "never;b;",
      ExtractionConfig.NrOfColumnsKey -> "2",
      "never" -> "never;false;true; ;0#//never/text();",
      "b" -> "b;true;false; ;1#//b/@x;"
    ))
    val doc = Seq(("d1", """<r><b x="7"></b></r>""")).toDF("docId", "xml")
    val out = XmlExtraction.run(doc, config).collect().map(_.getString(0))
    assert(out.toSeq == Seq(" |7|"))
  }

  test("text around a CDATA section is one value on the StAX path and the DOM fallback") {
    import spark.implicits._
    val doc = Seq(("d1", "<r><s>a<![CDATA[x<]]>b</s></r>")).toDF("docId", "xml")
    // `//s/text()` is in the StAX subset; the predicate sends `//s[1]/text()` to DOM
    for (xpath <- Seq("//s/text()", "//s[1]/text()")) {
      val config = ExtractionConfig.fromProperties(Map(
        ExtractionConfig.DelimiterKey -> ";",
        ExtractionConfig.SortOrderDelimiterKey -> "#",
        ExtractionConfig.OutputDelimiterKey -> "|",
        ExtractionConfig.NodesKey -> "s;",
        ExtractionConfig.NrOfColumnsKey -> "1",
        "s" -> s"s;false;true; ;0#$xpath;"))
      assert(XmlExtraction.run(doc, config).collect().map(_.getString(0)).toSeq == Seq("ax<b|"), xpath)
    }
  }

  test("SequenceFile round-trip: write corpus, read back, extract identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seq").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/corpus.seq"
    import org.apache.hadoop.io.Text
    import spark.implicits._
    corpus.as[(String, String)].rdd
      .map { case (k, v) => (new Text(k), new Text(v)) }
      .saveAsSequenceFile(path)
    val back = XmlExtraction.corpusFromSequenceFile(spark, path)
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val out = XmlExtraction.run(back, config).collect().map(_.getString(0)).toSeq.sorted
    assert(out == goldenInventory)
  }

  test("SequenceFile input splits to the core count; every document lands in one split") {
    import org.apache.hadoop.io.Text
    import spark.implicits._
    // 64 documents of about 8.7 KB: one part file that spans several sync
    // markers, so a byte-range split can start mid-file
    val docs = (0 until 64).map { i =>
      (f"doc$i%02d", resourceText("InventoryBanks.xml").replace("BanksBooks", s"Banks$i"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-seq-split").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/corpus.seq"
    spark.sparkContext.parallelize(docs, 1)
      .map { case (k, v) => (new Text(k), new Text(v)) }
      .saveAsSequenceFile(path)

    val back = XmlExtraction.corpusFromSequenceFile(spark, path)
    assert(back.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val perPartition = back.select("docId").as[String].rdd.glom().collect().map(_.toSeq)
    assert(perPartition.forall(_.nonEmpty), perPartition.map(_.size).mkString("sizes ", ",", ""))
    assert(perPartition.flatten.sorted.toSeq == docs.map(_._1))

    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    def extracted(corpus: org.apache.spark.sql.DataFrame): Seq[String] =
      XmlExtraction.run(corpus, config).collect().map(_.getString(0)).toSeq.sorted
    val inMemory = extracted(docs.toDF("docId", "xml"))
    assert(inMemory.size == 64 * 19)
    assert(extracted(back) == inMemory)

    // a directory of parts as Spark writes it (`_SUCCESS`, `.crc` files) plus one
    // block-compressed part of small compression blocks, each behind a sync marker,
    // holding documents of random text, so its ranges split inside the file
    import org.apache.hadoop.io.SequenceFile
    val parts = s"${dir.getAbsolutePath}/parts"
    spark.sparkContext.parallelize(docs, 3)
      .map { case (k, v) => (new Text(k), new Text(v)) }
      .saveAsSequenceFile(parts)
    val rnd = new scala.util.Random(11)
    val noisy = (0 until 64).map { i =>
      (f"blk$i%02d", resourceText("InventorySoho.xml").replace("SohoBooks", s"Soho$i-" + rnd.alphanumeric.take(6000).mkString))
    }
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setInt("io.seqfile.compress.blocksize", 16384)
    val block = new org.apache.hadoop.fs.Path(s"$parts/part-00009")
    val writer = SequenceFile.createWriter(conf, SequenceFile.Writer.file(block),
      SequenceFile.Writer.keyClass(classOf[Text]), SequenceFile.Writer.valueClass(classOf[Text]),
      SequenceFile.Writer.compression(SequenceFile.CompressionType.BLOCK))
    try noisy.foreach { case (k, v) => writer.append(new Text(k), new Text(v)) } finally writer.close()
    assert(new java.io.File(s"$parts/_SUCCESS").exists)
    val fs = block.getFileSystem(conf)
    val listed = fs.listStatus(new org.apache.hadoop.fs.Path(parts)).filter(_.getPath.getName.startsWith("part-"))
    val ranges = XmlExtraction.sequenceFileSplits(listed.sortBy(_.getPath.toString).toIndexedSeq,
      spark.sparkContext.defaultParallelism)
    assert(ranges.count(_.path.endsWith("part-00009")) > 1, ranges.mkString("\n"))

    val fromDir = XmlExtraction.corpusFromSequenceFile(spark, parts)
    assert(fromDir.rdd.getNumPartitions == ranges.size)
    assert(fromDir.select("docId").as[String].collect().sorted.toSeq == (docs ++ noisy).map(_._1).sorted)
    assert(extracted(fromDir) == (inMemory ++ extracted(noisy.toDF("docId", "xml"))).sorted)

    val missing = intercept[org.apache.spark.sql.AnalysisException](
      XmlExtraction.corpusFromSequenceFile(spark, s"${dir.getAbsolutePath}/missing"))
    assert(missing.getCondition == "PATH_NOT_FOUND" && missing.getMessage.contains("missing"), missing.getMessage)
  }

  test("sequenceFileSplits: FileInputFormat's split count and block cap; every byte in one range") {
    import org.apache.hadoop.fs.{FileStatus, Path}
    def file(i: Int, length: Long, block: Long) = new FileStatus(length, false, 1, block, 0L, new Path(s"file:/f$i"))
    def sizes(files: IndexedSeq[FileStatus], minSplits: Int) =
      XmlExtraction.sequenceFileSplits(files, minSplits).map(_.length)
    // one file: ⌈total ÷ minSplits⌉ per range
    assert(sizes(IndexedSeq(file(0, 1000, 1L << 20)), 4) == Seq(250, 250, 250, 250))
    assert(sizes(IndexedSeq(file(0, 1001, 1L << 20)), 4) == Seq(251, 251, 251, 248))
    // the block size caps a range; a last range within 10% of it is not cut again
    assert(sizes(IndexedSeq(file(0, 1000, 100)), 4) == Seq.fill(10)(100))
    assert(sizes(IndexedSeq(file(0, 1005, 100)), 4) == Seq.fill(9)(100) :+ 105)
    // the goal is over all files; an empty file has no range
    assert(sizes(IndexedSeq(file(0, 600, 1L << 20), file(1, 0, 1L << 20), file(2, 200, 1L << 20)), 4) ==
      Seq(200, 200, 200, 200))

    val rnd = new scala.util.Random(5)
    for (_ <- 0 until 500) {
      val files = (0 until rnd.nextInt(6)).map(i => file(i, rnd.nextInt(5000).toLong, 1L + rnd.nextInt(3000)))
      val minSplits = 1 + rnd.nextInt(8)
      val ranges = XmlExtraction.sequenceFileSplits(files, minSplits)
      val goal = (files.map(_.getLen).sum + minSplits - 1) / minSplits
      for (f <- files) {
        val own = ranges.filter(_.path == f.getPath.toString)
        val size = math.min(goal, f.getBlockSize)
        val shown = s"$f min $minSplits: $own"
        // contiguous from 0 to the end: every byte once
        assert(own.map(_.start) == own.scanLeft(0L)(_ + _.length).init, shown)
        assert(own.map(_.length).sum == f.getLen, shown)
        assert(own.forall(_.length > 0), shown)
        assert(own.dropRight(1).forall(_.length == size), shown)
        assert(own.lastOption.forall(_.length <= size * 1.1), shown)
      }
      assert(ranges.map(_.path).distinct == files.filter(_.getLen > 0).map(_.getPath.toString))
    }
  }

  test("a malformed fragment or a failing expression is dropped as the reference does, and counted") {
    import spark.implicits._
    val config = ExtractionConfig.fromProperties(Map(
      ExtractionConfig.DelimiterKey -> ";",
      ExtractionConfig.SortOrderDelimiterKey -> "#",
      ExtractionConfig.OutputDelimiterKey -> "|",
      ExtractionConfig.NodesKey -> "b;c;",
      ExtractionConfig.NrOfColumnsKey -> "2",
      // `count(..)` is outside the StAX subset and is no node-set: it fails on DOM
      "c" -> "c;true;true; ;0#count(//c);",
      "b" -> "b;true;true; ;1#//b/@x;"))
    // the second <b> holds an unclosed <i>: no engine parses it
    val xml = "<r><c n=\"1\"></c><b x=\"1\"></b><b x=\"2\"><i></b><b x=\"3\"></b></r>"
    val kernel = new ExtractionKernel(config)
    assert(kernel.lines(xml).toSeq == Seq(" |1|", " |3|"))
    assert(kernel.unparseableFragments == 1 && kernel.failedExpressions == 1)
    assert(XmlExtraction.run(Seq(("d", xml)).toDF("docId", "xml"), config)
      .collect().map(_.getString(0)).toSeq == Seq(" |1|", " |3|"))
  }

  test("small XML files pack to the core count: whole documents, every docId once") {
    import spark.implicits._
    // 200 files: Spark's own packing (a 4 MB open cost per file against a 128 MB
    // budget) makes 7 partitions of them, so only a core-count packer passes; with
    // 64 files it would land on 4 as well
    val docs = (0 until 200).map { i =>
      (f"doc$i%03d.xml", resourceText("InventoryBanks.xml").replace("BanksBooks", s"Banks$i"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-small-files")
    for ((name, xml) <- docs) java.nio.file.Files.writeString(dir.resolve(name), xml)

    val back = XmlExtraction.corpusFromXmlFiles(spark, dir.toString)
    assert(back.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val perPartition = back.select("docId").as[String].rdd.glom().collect().map(_.toSeq)
    assert(perPartition.forall(_.nonEmpty), perPartition.map(_.size).mkString("sizes ", ",", ""))
    assert(perPartition.flatten.sorted.toSeq == docs.map(_._1))

    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    def extracted(corpus: org.apache.spark.sql.DataFrame): Seq[String] =
      XmlExtraction.run(corpus, config).collect().map(_.getString(0)).toSeq.sorted
    val inMemory = extracted(docs.toDF("docId", "xml"))
    assert(inMemory.size == 200 * 19)
    assert(extracted(back) == inMemory)
  }

  test("file listing and codecs match Spark's wholetext reader, for a directory and a glob") {
    import org.apache.spark.sql.functions.col
    val tree = NestedXmlTree.write(resourceText("InventorySoho.xml"), resourceText("InventoryBanks.xml"))

    def viaWholetext(p: String, recursive: Boolean = false): Set[(String, String)] =
      spark.read.option("wholetext", true).option("recursiveFileLookup", recursive).text(p)
        .select(XmlExtraction.docIdColumn(spark, p), col("value"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    def viaCorpus(p: String): Set[(String, String)] =
      XmlExtraction.corpusFromXmlFiles(spark, p)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet

    // a directory is walked like Spark's reader with recursiveFileLookup: hidden names
    // below it are skipped, `+` and spaces survive in docIds, `.gz` is decompressed
    val all = viaCorpus(tree.toString)
    assert(all == viaWholetext(tree.toString, recursive = true))
    assert(all.map(_._1) == NestedXmlTree.docIds)
    assert(all.exists(_._2.contains("GzipBooks")))
    // Spark's plain reader keeps only the directory's own files
    assert(viaWholetext(tree.toString) == all.filterNot(_._1.contains("/")))
    // a glob of files reads what Spark's plain reader reads
    assert(viaCorpus(s"$tree/a/*.xml*") == viaWholetext(s"$tree/a/*.xml*"))
    // a glob of directories: Spark reads below a matched `_temporary/` or `.hidden/`, the
    // lister skips them as it skips them below a directory
    assert(viaCorpus(s"$tree/*") == viaWholetext(s"$tree/*", recursive = true)
      .filterNot(d => d._1.startsWith("_") || d._1.startsWith(".")))
    // a hidden directory named outright is read
    assert(viaCorpus(s"$tree/_temporary") == viaWholetext(s"$tree/_temporary"))
    assert(viaCorpus(s"$tree/_temporary").map(_._1) == Set("y.xml"))
  }

  test("packFiles: contiguous groups, at least minGroups, none above maxBytes unless alone") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 500) {
      val n = rnd.nextInt(40)
      val files = (0 until n).map { i =>
        XmlFile(f"f$i%03d", if (rnd.nextInt(8) == 0) rnd.nextInt(2000).toLong else rnd.nextInt(100).toLong, "")
      }
      val minGroups = 1 + rnd.nextInt(8)
      val maxBytes = 50L + rnd.nextInt(500)
      val groups = XmlExtraction.packFiles(files, minGroups, maxBytes)
      val shown = s"min $minGroups max $maxBytes: ${groups.map(_.map(_.length))}"
      assert(groups.flatten == files, shown)
      assert(groups.forall(_.nonEmpty), shown)
      assert(groups.size >= math.min(minGroups, n), shown)
      assert(groups.forall(g => g.size == 1 || g.map(_.length).sum <= maxBytes), shown)
    }
    // equal files spread evenly; the byte budget adds groups beyond the core count
    val equal = (0 until 1000).map(i => XmlFile(f"f$i%04d", 7000L, ""))
    assert(XmlExtraction.packFiles(equal, 4, 128L << 20).map(_.size) == Seq.fill(4)(250))
    assert(XmlExtraction.packFiles(equal, 4, 700000L).map(_.size) == Seq.fill(10)(100))
  }
}
