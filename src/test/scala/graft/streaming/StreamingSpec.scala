package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.ExtractionConfig
import graft.xml.{NestedXmlTree, XmlExtraction}

/** Structured Streaming: the batch extraction DAG under a file-source stream
 * must equal the batch result; windowed aggregation must respect watermarks. */
class StreamingSpec extends SparkSpec {

  test("file-source streaming extraction equals the batch result") {
    val inDir = Files.createTempDirectory("graft-stream-in").toFile
    val ckDir = Files.createTempDirectory("graft-stream-ck").toFile
    for (name <- Seq("InventorySoho.xml", "InventoryBanks.xml")) {
      Files.writeString(new java.io.File(inDir, name).toPath, resourceText(name))
    }
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))

    val stream = StreamingExtraction.streamingExtract(spark, inDir.getAbsolutePath, config)
    assert(stream.isStreaming)
    val query = stream.writeStream
      .format("memory")
      .queryName("stream_extract")
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .outputMode("append")
      .start()
    try query.processAllAvailable()
    finally query.stop()

    val streamed = spark.table("stream_extract")
      .orderBy("docId", "seq").collect().map(_.toSeq).toSeq
    val batch = XmlExtraction.extractRows(
      XmlExtraction.corpusFromXmlFiles(spark, inDir.getAbsolutePath), config)
      .orderBy("docId", "seq").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("file-source streaming reads a nested tree like the batch reader") {
    val tree = NestedXmlTree.write(resourceText("InventorySoho.xml"), resourceText("InventoryBanks.xml"))
    val ckDir = Files.createTempDirectory("graft-stream-nested-ck").toFile
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))
    val query = StreamingExtraction.streamingExtract(spark, tree.toString, config)
      .writeStream
      .format("memory")
      .queryName("stream_nested")
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .outputMode("append")
      .start()
    try query.processAllAvailable()
    finally query.stop()

    val streamed = spark.table("stream_nested")
    val batch = XmlExtraction.extractRows(
      XmlExtraction.corpusFromXmlFiles(spark, tree.toString), config)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("docId", "seq").collect().map(_.toSeq).toSeq
    assert(rows(streamed) == rows(batch))
    // every document below the root, none of the hidden ones
    assert(streamed.select("docId").distinct().collect().map(_.getString(0)).toSet ==
      NestedXmlTree.docIds)
  }

  test("incremental arrival: delimited file sink accumulates across micro-batches " +
    "and byte-equals the batch output") {
    val inDir = Files.createTempDirectory("graft-stream-inc-in").toFile
    val outDir = Files.createTempDirectory("graft-stream-inc-out").toFile
    val ckDir = Files.createTempDirectory("graft-stream-inc-ck").toFile
    val config = ExtractionConfig.fromXml(resourceText("ExtractInventory.xml"))

    def outLines(): Seq[String] =
      outDir.listFiles.filter(f => f.getName.startsWith("part-"))
        .flatMap(f => scala.jdk.CollectionConverters
          .CollectionHasAsScala(Files.readAllLines(f.toPath)).asScala)
        .toSeq.sorted

    val query = StreamingExtraction
      .streamingExtractLines(spark, inDir.getAbsolutePath, config)
      .writeStream
      .format("text")
      .option("path", outDir.getAbsolutePath)
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .outputMode("append")
      .start()
    try {
      // micro-batch 1: one document lands
      Files.writeString(new java.io.File(inDir, "InventorySoho.xml").toPath,
        resourceText("InventorySoho.xml"))
      query.processAllAvailable()
      val afterFirst = outLines()
      assert(afterFirst.nonEmpty)
      // micro-batch 2: a second document lands — output must ACCUMULATE
      // (append-only), never rewrite batch-1 rows
      Files.writeString(new java.io.File(inDir, "InventoryBanks.xml").toPath,
        resourceText("InventoryBanks.xml"))
      query.processAllAvailable()
      val afterSecond = outLines()
      assert(afterFirst.forall(afterSecond.contains), "batch-1 lines must survive batch 2")
      assert(afterSecond.size > afterFirst.size)
      // final content byte-equals the batch engine over the same directory
      val batch = XmlExtraction.run(
        XmlExtraction.corpusFromXmlFiles(spark, inDir.getAbsolutePath), config)
        .collect().map(_.getString(0)).toSeq.sorted
      assert(afterSecond == batch)
    } finally query.stop()
  }

  test("windowed event stats with watermark over the events table (batch run)") {
    // window+watermark plan also runs in batch mode — validate the aggregation
    // semantics against a plain groupBy on truncated hours
    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
    val windowed = StreamingExtraction.windowedEventStats(events)
      .orderBy("window_start", "event_type").collect()
    val expected = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .orderBy("window_start", "event_type").collect()
    assert(windowed.length == expected.length)
    assert(windowed.zip(expected).forall { case (a, b) =>
      a.getTimestamp(0) == b.getTimestamp(0) && a.getString(1) == b.getString(1) &&
        a.getLong(2) == b.getLong(2) && math.abs(a.getDouble(3) - b.getDouble(3)) < 1e-9
    })
  }
}
