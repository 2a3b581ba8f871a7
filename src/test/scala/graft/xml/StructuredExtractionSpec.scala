package graft.xml

import java.nio.file.Files

import graft.SparkSpec
import graft.config.ExtractionConfig

/** The structured (native-XML-source + explode) path must produce the same
 * rows as the parity engine on the reference corpus. */
class StructuredExtractionSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-structured").toFile
    for (name <- Seq("InventorySoho.xml", "InventoryBanks.xml"))
      Files.writeString(new java.io.File(d, name).toPath, resourceText(name))
    d.getAbsolutePath
  }

  private def parityLines(configName: String): Seq[String] = {
    val config = ExtractionConfig.fromXml(resourceText(configName))
    XmlExtraction.run(XmlExtraction.corpusFromXmlFiles(spark, dir), config)
      .collect().map(_.getString(0)).toSeq.sorted
  }

  test("structured ExtractInventory == parity engine output (30 golden rows)") {
    val structured = XmlExtraction.delimitedLines(
      StructuredExtraction.inventoryQuery(spark, dir), ";")
      .collect().map(_.getString(0)).toSeq.sorted
    val parity = parityLines("ExtractInventory.xml")
    assert(structured.length == 30)
    assert(structured == parity)
  }

  test("structured ExtractBook (bk106) == parity engine output (4 rows)") {
    val structured = XmlExtraction.delimitedLines(
      StructuredExtraction.bookQuery(spark, dir, "bk106"), ";")
      .collect().map(_.getString(0)).toSeq.sorted
    val parity = parityLines("ExtractBook.xml")
    assert(structured.length == 4)
    assert(structured == parity)
  }

  test("XML scan prunes to the referenced fields only") {
    val df = StructuredExtraction.inventoryQuery(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
    // the pushed ReadSchema should not include unreferenced fields like author/title
    assert(!scan.contains("author"), scan)
  }
}
