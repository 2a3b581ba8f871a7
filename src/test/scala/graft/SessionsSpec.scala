package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** N resolution for [[Sessions]], and the guard that keeps every entry
 * point on that one factory. */
class SessionsSpec extends AnyFunSuite {

  test("unset SPARK_GRAFT_CPUS resolves to the available processors") {
    assert(Sessions.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Sessions.cpus(Map("SPARK_MASTER" -> "local[2]")) ==
      Runtime.getRuntime.availableProcessors)
  }

  test("a positive SPARK_GRAFT_CPUS is taken as N") {
    assert(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> "7")) == 7)
    assert(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> " 2 ")) == 2)
  }

  test("a non-numeric or non-positive SPARK_GRAFT_CPUS fails by name") {
    for (bad <- Seq("0", "-2", "x", "")) {
      val e = intercept[IllegalArgumentException](
        Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("only Sessions.scala builds a session or reads SPARK_GRAFT_CPUS") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root ($root)")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("Sessions.scala")))
    val forbidden = """SparkSession\s*\.\s*builder|SPARK_GRAFT_CPUS""".r
    val offenders = for {
      f <- sources if !f.endsWith("Sessions.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if forbidden.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
