package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SessionFactory.session("graft-tests", Some("local[4]"), 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark

  /** Write JSON-lines fixture content to a temp file; returns its path. */
  def jsonFixture(lines: Seq[String], name: String = "fixture"): String = {
    val dir = Files.createTempDirectory(s"graft_$name")
    val f = dir.resolve(s"$name.json")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  def tempDir(name: String): Path = Files.createTempDirectory(s"graft_$name")

  def readJson(path: String): DataFrame = spark.read.json(path)
}
