package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Output checks against the generators' ground truth. They read what the
 * program wrote and share no code with it. */
object Checks {

  /** The part files a `.write.text` left in `dir`. */
  def partFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)

  def outputLines(dir: File): Iterator[String] =
    partFiles(dir).iterator.flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala)

  /** None when the lines in `dir` match the expected count and digest;
   * otherwise the first mismatch, found by diffing against the full expected
   * lines (computed only then). */
  def lines(what: String, expected: Digest, expectedLines: => Seq[String],
            dir: File): Option[String] =
    linesDiff(what, expected, expectedLines, outputLines(dir).toSeq)

  def linesDiff(what: String, expected: Digest, expectedLines: => Seq[String],
                actual: Seq[String]): Option[String] = {
    val got = Digest.of(actual.iterator)
    if (got.same(expected)) None
    else Some(s"$what: ${got.count} lines, expected ${expected.count}; " +
      firstDifference(expectedLines.sorted, actual.sorted))
  }

  private def firstDifference(want: Seq[String], got: Seq[String]): String = {
    val i = want.iterator.zip(got.iterator).indexWhere { case (a, b) => a != b }
    if (i >= 0) {
      val (a, b) = (want(i), got(i))
      if (a < b) s"missing line '$a'" else s"unexpected line '$b'"
    } else if (want.length > got.length) s"missing line '${want(got.length)}'"
    else if (got.length > want.length) s"unexpected line '${got(want.length)}'"
    else "same lines, different digest"
  }

  /** None when the (id, component) rows partition exactly the planted
   * clusters; otherwise the first planted cluster (by smallest id) that did
   * not come out as one component, or the first component that is no cluster. */
  def clusters(what: String, planted: Seq[Seq[Long]], rows: Seq[(Long, Long)]): Option[String] = {
    val got = rows.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val want = planted.map(_.toSet)
    val missing = want.filterNot(got.contains).sortBy(_.min)
    if (missing.nonEmpty) {
      val c = missing.head
      val byId = rows.toMap
      val parts = c.toSeq.sorted.map(id => s"$id->${byId.get(id).map(_.toString).getOrElse("none")}")
      Some(s"$what: planted cluster ${c.toSeq.sorted.mkString("{", ",", "}")} came out as " +
        parts.mkString("[", " ", "]") + " (id->component)")
    } else {
      val extra = (got -- want.toSet).toSeq.sortBy(_.min)
      extra.headOption.map(e => s"$what: component ${e.toSeq.sorted.mkString("{", ",", "}")} is no planted cluster")
    }
  }
}
