package graft

import graft.config.ExtractionConfig
import graft.xml.XmlExtraction

/**
 * Command-line entry point with the reference driver's contract
 * (`XmlExtractor.java:178-212`): `ExtractorCli <inPath> <outPath> <configFile>`.
 *
 * `inPath` may be a directory/glob of XML documents or a SequenceFile
 * (`--seq` flag) in the reference's `Text uuid -> Text xml` layout.
 *
 * `--stream` runs the SAME extraction DAG as a Structured Streaming job over
 * the input directory (each landing file = one document) and writes delimited
 * text incrementally. Uses `Trigger.AvailableNow` — drain everything present,
 * checkpoint, exit — so repeated invocations are incremental (already-seen
 * files are skipped via the checkpoint under `<outPath>/_checkpoint`); a
 * resident watcher would use the default trigger instead.
 */
object ExtractorCli {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    // an unknown flag must error, never silently fall through to the batch
    // path (a misspelled --streaming would otherwise overwrite the output)
    val unknown = flags.filterNot(Set("--seq", "--stream"))
    if (unknown.nonEmpty || positional.length != 3) {
      if (unknown.nonEmpty)
        System.err.println(s"Unknown flag(s): ${unknown.mkString(", ")}")
      System.err.println("Usage: ExtractorCli [--seq|--stream] <in path> <out path> <config>")
      sys.exit(2)
    }
    // the streaming source reads XML files only; silently ignoring --seq
    // would misparse a SequenceFile as one XML document per file
    if (flags.contains("--seq") && flags.contains("--stream")) {
      System.err.println("--seq and --stream are mutually exclusive (no streaming SequenceFile source)")
      sys.exit(2)
    }
    val Array(inPath, outPath, configFile) = positional
    val config = ExtractionConfig.fromFile(configFile)
    val spark = Sessions.get("graft-extract")
    try {
      if (flags.contains("--stream")) {
        val query = graft.streaming.StreamingExtraction
          .streamingExtractLines(spark, inPath, config)
          .writeStream
          .format("text")
          .option("path", outPath)
          .option("checkpointLocation", s"$outPath/_checkpoint")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      } else {
        val corpus =
          if (flags.contains("--seq")) XmlExtraction.corpusFromSequenceFile(spark, inPath)
          else XmlExtraction.corpusFromXmlFiles(spark, inPath)
        XmlExtraction.run(corpus, config).write.mode("overwrite").text(outPath)
      }
    } finally spark.stop()
  }
}
