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
