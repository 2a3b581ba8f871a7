package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.ExtractionConfig
import graft.xml.{FragmentScanner, XmlExtraction}

/** The graft-xml DataSource V2: fragment parity with the scanner, pruning,
 * rule-filter pushdown, and the bridge into the pivot pipeline. */
class XmlFragmentSourceSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-dsv2").toFile
    for (name <- Seq("InventorySoho.xml", "InventoryBanks.xml"))
      Files.writeString(new java.io.File(d, name).toPath, resourceText(name))
    d.getAbsolutePath
  }

  private lazy val configPath = {
    val f = Files.createTempFile("graft-dsv2-config", ".xml")
    Files.writeString(f, resourceText("ExtractInventory.xml"))
    f.toString
  }

  private def read() =
    spark.read.format("graft-xml").option("config", configPath).load(dir)

  test("fragments match FragmentScanner run directly on each document") {
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val viaSource = read()
      .select("docId", "seq", "rule", "xml")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    val direct = (for {
      name <- Seq("InventorySoho.xml", "InventoryBanks.xml")
      frag <- FragmentScanner.scan(resourceText(name), config.rules.toIndexedSeq)
    } yield (name, frag.seq, config.rules(frag.ruleIndex).element, frag.xml)).toSet
    assert(viaSource == direct)
    assert(viaSource.nonEmpty)
  }

  test("rule equality filter is pushed into the scan") {
    val df = read().where(col("rule") === "book")
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("pushedRules=book"), explained)
    val rules = df.select("rule").distinct().collect().map(_.getString(0)).toSeq
    assert(rules == Seq("book"))
  }

  test("column pruning reaches the reader (count never materializes xml bodies)") {
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val expected = (for {
      name <- Seq("InventorySoho.xml", "InventoryBanks.xml")
      frag <- FragmentScanner.scan(resourceText(name), config.rules.toIndexedSeq)
      if config.rules(frag.ruleIndex).element == "book"
    } yield frag).size
    val counts = read().groupBy(col("rule")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("book") == expected)
    // the scan's readSchema drops pruned columns
    val scanLine = read().select("rule").queryExecution.executedPlan.toString
    assert(!scanLine.contains("xml#") || scanLine.contains("ReadSchema"), scanLine)
  }

  test("nested directory trees list recursively, globs expand, small files pack") {
    val root = Files.createTempDirectory("graft-dsv2-nested")
    val subA = Files.createDirectory(root.resolve("a"))
    val subB = Files.createDirectory(root.resolve("a").resolve("deep"))
    val subC = Files.createDirectory(root.resolve("b"))
    Files.writeString(subA.resolve("InventorySoho.xml"), resourceText("InventorySoho.xml"))
    Files.writeString(subB.resolve("InventoryBanks.xml"), resourceText("InventoryBanks.xml"))
    Files.writeString(subC.resolve("InventorySoho2.xml"), resourceText("InventorySoho.xml"))
    Files.writeString(root.resolve("_SUCCESS"), "") // marker files are skipped
    // and so is everything below a hidden directory
    for (hidden <- Seq("_temporary", ".x"))
      Files.writeString(Files.createDirectory(root.resolve(hidden)).resolve("y.xml"), resourceText("InventorySoho.xml"))

    def readPath(p: String) =
      spark.read.format("graft-xml").option("config", configPath).load(p)

    val all = readPath(root.toString)
    val docs = all.select("docId").distinct().collect().map(_.getString(0)).toSet
    assert(docs == Set("a/InventorySoho.xml", "a/deep/InventoryBanks.xml", "b/InventorySoho2.xml"))
    // the packFiles rule: at least one partition per core, never more than files
    assert(all.rdd.getNumPartitions == math.min(3, spark.sparkContext.defaultParallelism))

    // glob limits to the matching subtree (a/* = the direct file + deep/, recursed)
    val globbed = readPath(s"$root/a/*")
    val globbedDocs = globbed.select("docId").distinct().collect().map(_.getString(0)).toSet
    assert(globbedDocs == Set("InventorySoho.xml", "deep/InventoryBanks.xml"))
  }

  test("1000 small files plan as one partition per core, every document once") {
    val root = Files.createTempDirectory("graft-dsv2-small")
    val doc = resourceText("InventorySoho.xml")
    // about 7 KB each: padded past the document with a comment
    val text = doc + "<!--" + "x" * (7000 - doc.length - 7) + "-->"
    for (i <- 0 until 1000) Files.writeString(root.resolve(f"d$i%04d.xml"), text)
    val df = spark.read.format("graft-xml").option("config", configPath).load(root.toString)
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(df.select("docId").distinct().count() == 1000)
  }

  test("conflicting pushed rule equalities yield the empty intersection") {
    val df = read().where(col("rule") === "book" && col("rule") === "store")
    assert(df.count() == 0)
  }

  test("DSv2 fragments + tuple/window pipeline == fused extractRows") {
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val viaDsv2 = XmlExtraction.pivotRows(
      XmlExtraction.tuplesFromFragments(read(), config), config)
      .orderBy("docId", "seq").collect().map(_.toSeq).toSeq
    val fused = XmlExtraction.extractRows(
      XmlExtraction.corpusFromXmlFiles(spark, dir), config)
      .orderBy("docId", "seq").collect().map(_.toSeq).toSeq
    assert(viaDsv2 == fused)
    assert(viaDsv2.nonEmpty)
  }

  test("same-name files in different directories stay two documents (docId = relative path)") {
    val tree = Files.createTempDirectory("graft-dsv2-samename")
    for ((sub, name) <- Seq("a" -> "InventorySoho.xml", "b" -> "InventoryBanks.xml"))
      Files.writeString(Files.createDirectory(tree.resolve(sub)).resolve("x.xml"), resourceText(name))
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    def lines(rows: org.apache.spark.sql.DataFrame) =
      XmlExtraction.formatLines(rows, config).collect().map(_.getString(0)).toSeq.sorted
    // each document extracted alone: the 30 golden rows
    val alone = lines(XmlExtraction.extractRows(XmlExtraction.corpusFromXmlFiles(spark, dir), config))
    assert(alone.length == 30)

    val fragments = spark.read.format("graft-xml").option("config", configPath).load(tree.toString)
    val viaDsv2 = XmlExtraction.pivotRows(XmlExtraction.tuplesFromFragments(fragments, config), config)
    assert(lines(viaDsv2) == alone)
    assert(viaDsv2.select("docId").distinct().collect().map(_.getString(0)).toSet ==
      Set("a/x.xml", "b/x.xml"))

    val globbed = XmlExtraction.corpusFromXmlFiles(spark, s"$tree/*")
    assert(globbed.select("docId").collect().map(_.getString(0)).toSet == Set("a/x.xml", "b/x.xml"))
    assert(lines(XmlExtraction.extractRows(globbed, config)) == alone)
  }

  test("both file readers fail naming a missing path or a glob that matches nothing") {
    val root = Files.createTempDirectory("graft-missing")
    for (p <- Seq(s"$root/absent", s"$root/*.xml")) {
      val viaCorpus = intercept[AnalysisException](XmlExtraction.corpusFromXmlFiles(spark, p))
      val viaSource = intercept[AnalysisException](
        spark.read.format("graft-xml").option("config", configPath).load(p).count())
      for (e <- Seq(viaCorpus, viaSource)) {
        assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
        assert(e.getMessage.contains(p), e.getMessage)
      }
    }
  }

  test("a gzipped document scans to the fragments of its plain twin") {
    val d = Files.createTempDirectory("graft-dsv2-gz")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(d.resolve("InventorySoho.xml.gz")))
    try gz.write(resourceText("InventorySoho.xml").getBytes("UTF-8")) finally gz.close()
    def fragments(p: String) =
      spark.read.format("graft-xml").option("config", configPath).load(p)
        .collect().map(r => (r.getLong(1), r.getString(2), r.getString(3))).toSet
    val plain = fragments(s"$dir/InventorySoho.xml")
    assert(plain.nonEmpty)
    assert(fragments(d.toString) == plain)
  }
}
