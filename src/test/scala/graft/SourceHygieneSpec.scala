package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the bytes of the sources themselves. */
class SourceHygieneSpec extends AnyFunSuite {

  test("no Scala source under src/ holds a NUL byte (write it as the \\u0000 escape)") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root.resolve("main/scala")), s"run from the repository root ($root)")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("SourceHygieneSpec.scala")))
    // a NUL byte makes git treat the file as binary: diffs show no lines
    val offenders = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.indexOf('\u0000') >= 0
    } yield s"$f:${i + 1}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("new XPathEvaluator( appears once under src/main/scala: one extraction kernel") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val hits = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("new XPathEvaluator(")
    } yield s"$f:${i + 1}"
    assert(hits.size == 1, hits.mkString("\n", "\n", ""))
  }

  test("AS band_key appears once under src/main/scala: one band encoder") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val hits = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("AS band_key")
    } yield s"$f:${i + 1}"
    assert(hits.size == 1, hits.mkString("\n", "\n", ""))
  }

  test("file readers list with listStatus, and only streaming reads wholetext") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val lines = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    } yield (f, s"$f:${i + 1}", line)
    // on the local filesystem both build a LocatedFileStatus per file, which forks `ls`
    val forking = lines.collect { case (_, at, l) if l.contains("listFiles(") || l.contains("listLocatedStatus(") => at }
    assert(forking.isEmpty, forking.mkString("\n", "\n", ""))
    // Spark's Hadoop-format readers list through FileInputFormat, which does the same
    val formats = lines.collect { case (_, at, l) if l.contains("sequenceFile(") || l.contains("hadoopFile(") => at }
    assert(formats.isEmpty, formats.mkString("\n", "\n", ""))
    val wholetext = lines.collect {
      case (f, at, l) if l.contains("\"wholetext\"") && !f.endsWith("streaming/StreamingExtraction.scala") => at
    }
    assert(wholetext.isEmpty, wholetext.mkString("\n", "\n", ""))
    assert(lines.exists(_._3.contains("\"wholetext\"")))
  }

  test("java.nio input listing and reading appear only in XmlExtraction.scala: one lister, one reader") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val lines = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    } yield (f, s"$f:${i + 1}", line)
    // writes (Bench's artifact, Verify's oracle SQL) are not input and do not count
    val calls = Seq("walkFileTree(", "newDirectoryStream(", "readAllBytes(", "newInputStream(",
      "Files.walk(", "Files.list(", "Files.lines(", "Files.readString(", "Files.readAllLines(",
      "newBufferedReader(")
    val reads = lines.filter { case (_, _, l) => calls.exists(l.contains) }
    val elsewhere = reads.collect { case (f, at, _) if !f.endsWith("graft/xml/XmlExtraction.scala") => at }
    assert(elsewhere.isEmpty, elsewhere.mkString("\n", "\n", ""))
    for (call <- Seq("walkFileTree(", "Files.readAllBytes("))
      assert(reads.exists(_._3.contains(call)), s"the local branch of the lister and reader uses $call")
  }

  test("one shingling implementation: word_ngrams, planned only by TextFunctions.shingles") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val lines = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    } yield (f, s"$f:${i + 1}", line)
    val named = lines.collect {
      case (f, at, l) if l.contains("\"word_ngrams\"") && !f.endsWith("plans/WordNgramsExpr.scala") => at
    }
    assert(named.size == 1 && named.head.contains("functions/TextFunctions.scala"),
      named.mkString("\n", "\n", ""))
    val defs = lines.collect {
      case (f, at, l) if l.contains("def shingles(") && !f.endsWith("plans/WordNgramsExpr.scala") => at
    }
    assert(defs.size == 1, defs.mkString("\n", "\n", ""))
    // the deleted HOF chain's shape: distinct space-joined windows, whole text below n
    val hof = lines.collect { case (_, at, l) if l.contains("array_distinct(when(size(") => at }
    assert(hof.isEmpty, hof.mkString("\n", "\n", ""))
  }

  test("one implementation per native kernel: no registration probe, no HOF twin under src/main/scala") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val lines = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    } yield (f, s"$f:${i + 1}", line)
    // a registration probe means a fallback path, i.e. a second implementation
    val probes = lines.collect { case (_, at, l) if l.contains("functionExists(") => at }
    assert(probes.isEmpty, probes.mkString("\n", "\n", ""))
    // the interpreted twins are test references (graft.functions.HofTwins);
    // graft/plans holds the kernels, some of whose methods share a twin's name
    val twins = Seq("def minhashBases(", "def minhashSignatureFromBases(", "def hofCharStats(",
      "def hyperplaneSignature(")
    val kernelNamed = Seq("def simhash62(", "def winnow(")
    val defs = lines.collect {
      case (f, at, l) if twins.exists(l.contains) ||
        (kernelNamed.exists(l.contains) && !f.toString.contains("/plans/")) => at
    }
    assert(defs.isEmpty, defs.mkString("\n", "\n", ""))
  }

  test("no default-off checkpoint postures") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val lines = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    } yield (f, s"$f:${i + 1}", line)
    // the reliable mode, its chaos hook, the scoped registry and an eager
    // reliable checkpoint (localCheckpoint( does not contain ".checkpoint(")
    val banned = Seq("reliableCheckpoint", "afterMaterialize", "ReleaseScope", ".checkpoint(")
    val hits = lines.collect { case (_, at, l) if banned.exists(l.contains) => at }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
    // Checkpoints is one reuse point
    val defs = lines.collect {
      case (f, at, l) if f.endsWith("operators/Checkpoints.scala") && l.contains("def ") => at
    }
    assert(defs.size == 1, defs.mkString("\n", "\n", ""))
  }

  test("every main under src/main/scala is named in README's entry-point list") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root ($main)")
    val mains = for {
      f <- Files.walk(main).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      src = new String(Files.readAllBytes(f), "UTF-8")
      at = src.indexOf("def main(")
      if at >= 0
    } yield {
      val pkg = "(?m)^package ([\\w.]+)".r.findAllMatchIn(src).map(_.group(1)).mkString(".")
      val obj = "\\bobject (\\w+)".r.findAllMatchIn(src.substring(0, at)).toSeq.last.group(1)
      s"$pkg.$obj"
    }
    assert(mains.contains("graft.ExtractorCli"))
    // the bullet list that follows "Entry points" under "## Verify / test"
    val readme = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
    val section = readme.dropWhile(_ != "## Verify / test").drop(1).takeWhile(!_.startsWith("## "))
    val list = section.dropWhile(!_.startsWith("Entry points")).drop(1)
      .dropWhile(_.trim.isEmpty).takeWhile(_.trim.nonEmpty).mkString("\n")
    val unnamed = mains.filterNot(m => list.contains(s"`$m`") || list.contains(s"`$m "))
    assert(unnamed.isEmpty, unnamed.sorted.mkString("\n", "\n", ""))
  }
}
