package graft.xml

import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.AnalysisException

import graft.SparkSpec

/** The local branch of the one lister and the one reader (`java.nio`) against the
 * Hadoop branch that every other filesystem takes, forced here on the same files. */
class LocalIngestSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  /** [[NestedXmlTree]] plus `.crc` siblings, an empty directory, a `%` in a name,
   * a linked file, a linked directory and a dangling link. */
  private def tree(): NioPath = {
    val t = NestedXmlTree.write(resourceText("InventorySoho.xml"), resourceText("InventoryBanks.xml"))
    Files.writeString(t.resolve("a/.x.xml.crc"), "crc")
    Files.writeString(t.resolve("a/deep/.x.xml.crc"), "crc")
    Files.createDirectories(t.resolve("a/empty"))
    Files.writeString(t.resolve("a/pct%41.xml"), resourceText("InventorySoho.xml"))
    Files.createSymbolicLink(t.resolve("linked.xml"), t.resolve("a/x.xml"))
    Files.createSymbolicLink(t.resolve("b"), t.resolve("a/deep"))
    Files.createSymbolicLink(t.resolve("dangling.xml"), t.resolve("absent.xml"))
    t
  }

  test("the local lister lists what listStatus lists: a directory, a file, a glob; same splits; PATH_NOT_FOUND") {
    val t = tree()
    assert(new Path(t.toString).getFileSystem(conf).isInstanceOf[LocalFileSystem])
    def both(p: String): IndexedSeq[XmlFile] = {
      val local = XmlExtraction.listXmlFiles(p, conf)
      assert(local == XmlExtraction.listXmlFiles(p, conf, viaHadoop = true), p)
      val statuses = Seq(false, true).map(XmlExtraction.listInputs(p, conf, _))
      assert(statuses(0).map(s => (s.getPath, s.getLen, s.getBlockSize, s.isFile)) ==
        statuses(1).map(s => (s.getPath, s.getLen, s.getBlockSize, s.isFile)), p)
      for (minSplits <- Seq(1, 4, 64))
        assert(XmlExtraction.sequenceFileSplits(statuses(0), minSplits) ==
          XmlExtraction.sequenceFileSplits(statuses(1), minSplits), s"$p in $minSplits")
      local
    }
    assert(both(t.toString).map(_.docId).toSet ==
      NestedXmlTree.docIds ++ Set("a/pct%41.xml", "linked.xml", "b/x.xml"))
    assert(both(s"$t/a/x.xml").map(_.docId) == Seq("x.xml"))
    assert(both(s"$t/a/*").map(_.docId) ==
      Seq("deep/x.xml", "packed.xml.gz", "pct%41.xml", "plus+one.xml", "with space.xml", "x.xml"))
    assert(both(s"$t/*").size == both(t.toString).size)
    assert(both(s"$t/_temporary").map(_.docId) == Seq("y.xml"))

    for (p <- Seq(s"$t/absent", s"$t/*.none"); viaHadoop <- Seq(false, true)) {
      val e = intercept[AnalysisException](XmlExtraction.listXmlFiles(p, conf, viaHadoop))
      assert(e.getCondition == "PATH_NOT_FOUND" && e.getMessage.contains(p), e.getMessage)
    }
  }

  test("the local reader reads what Hadoop reads: plain, .gz, checksummed; a bad checksum fails; 1000 files") {
    val dir = Files.createTempDirectory("graft-local-read")
    val text = resourceText("InventoryBanks.xml")
    val codecs = new CompressionCodecFactory(conf)
    def both(p: NioPath): String = {
      val local = XmlExtraction.readXmlFile(p.toString, conf, codecs)
      assert(local == XmlExtraction.readXmlFile(p.toString, conf, codecs, viaHadoop = true), p)
      local
    }
    Files.writeString(dir.resolve("plain.xml"), text)
    assert(both(dir.resolve("plain.xml")) == text)
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve("packed.xml.gz")))
    try gz.write(text.getBytes("UTF-8")) finally gz.close()
    assert(both(dir.resolve("packed.xml.gz")) == text)

    // written through LocalFileSystem, which keeps its checksum in `.signed.xml.crc`
    val signed = dir.resolve("signed.xml")
    val out = FileSystem.getLocal(conf).create(new Path(signed.toString))
    try out.write(text.getBytes("UTF-8")) finally out.close()
    assert(Files.exists(dir.resolve(".signed.xml.crc")))
    assert(both(signed) == text)
    val bytes = Files.readAllBytes(signed)
    bytes(100) = (bytes(100) ^ 1).toByte
    Files.write(signed, bytes)
    for (viaHadoop <- Seq(false, true))
      intercept[ChecksumException](XmlExtraction.readXmlFile(signed.toString, conf, codecs, viaHadoop))

    val many = Files.createTempDirectory("graft-local-many")
    for (i <- 0 until 1000)
      Files.writeString(many.resolve(f"d$i%04d.xml"), text.replace("BanksBooks", s"Banks$i"))
    def rows(viaHadoop: Boolean): Seq[(String, String)] =
      XmlExtraction.corpusFromXmlFiles(spark, many.toString, viaHadoop)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val local = rows(viaHadoop = false)
    assert(local.size == 1000 && local.map(_._2).distinct.size == 1000)
    assert(local == rows(viaHadoop = true))
  }
}
