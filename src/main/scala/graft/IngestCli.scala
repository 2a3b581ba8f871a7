package graft

import graft.xml.XmlExtraction

/**
 * Ingestion utility with the reference's `CreateSequenceFile` contract
 * (`CreateSequenceFile.java:19-57`): pack a directory of XML documents into a
 * SequenceFile corpus. Unlike the reference's single-JVM client loop, this
 * runs distributed — each partition writes a SequenceFile part — and uses
 * deterministic docIds instead of random UUIDs (`CreateSequenceFile.java:49`;
 * divergence documented in SURVEY.md §2.10 #8): a document's docId is its file's
 * path relative to the deepest glob-free directory of the input path, so a flat
 * directory keeps bare file names ([[XmlExtraction.corpusFromXmlFiles]]).
 */
object IngestCli {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("Usage: IngestCli <input XML dir> <output SequenceFile path>")
      sys.exit(2)
    }
    val Array(inDir, outPath) = args
    val spark = Sessions.get("graft-ingest")
    try XmlExtraction.corpusToSequenceFile(
      XmlExtraction.corpusFromXmlFiles(spark, inDir), outPath)
    finally spark.stop()
  }
}
