package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt).
 * Four slots on any box, so plan-shape specs see a fixed partition count. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.get("graft-test", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def resourcePath(name: String): String =
    getClass.getResource(s"/$name").getPath

  def resourceText(name: String): String = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(s"/$name"), "UTF-8")
    try src.mkString finally src.close()
  }
}
