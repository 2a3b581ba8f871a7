package graft.xml

import java.nio.file.{Files, Path}

/** The nested input tree of the listing tests: documents at three depths, `+`
 * and a space in names, one gzipped document, and hidden names (`_SUCCESS`, a
 * `.crc`, `_temporary/`, `.hidden/`) at two levels that every reader skips. */
object NestedXmlTree {

  /** The docIds of the readable documents, relative to the tree's root. */
  val docIds: Set[String] = Set("top.xml", "a/x.xml", "a/deep/x.xml", "a/plus+one.xml",
    "a/with space.xml", "a/packed.xml.gz")

  /** Writes the tree into a new temporary directory and returns its root. */
  def write(soho: String, banks: String): Path = {
    val tree = Files.createTempDirectory("graft-nested-tree")
    def put(rel: String, text: String): Unit = {
      val f = tree.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, text)
    }
    put("top.xml", soho)
    put("a/x.xml", banks)
    put("a/deep/x.xml", soho.replace("SohoBooks", "DeepBooks"))
    put("a/plus+one.xml", banks.replace("BanksBooks", "PlusBooks"))
    put("a/with space.xml", soho.replace("SohoBooks", "SpaceBooks"))
    put("_SUCCESS", "")
    put("a/_SUCCESS", "")
    put(".x.xml.crc", "crc")
    put("_temporary/y.xml", soho)
    put("a/_temporary/y.xml", soho)
    put(".hidden/z.xml", banks)
    put("a/.hidden/z.xml", banks)
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(tree.resolve("a/packed.xml.gz")))
    try gz.write(banks.replace("BanksBooks", "GzipBooks").getBytes("UTF-8")) finally gz.close()
    tree
  }
}
