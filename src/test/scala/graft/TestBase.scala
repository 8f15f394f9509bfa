package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait TestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestBase.sharedSpark
  def sf(name: String) = s"/root/testdata/$name"
}

object TestBase {
  lazy val sharedSpark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The `src/main/scala` sources with their text, for the specs that scan
  * the program's code. */
object MainSources {
  val root: Path = Paths.get("src/main/scala")

  lazy val all: Seq[(Path, String)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally s.close()
  }
}
