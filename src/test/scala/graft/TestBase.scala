package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait TestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestBase.sharedSpark
  def sf(name: String) = s"/root/testdata/$name"

  /** `body`'s result and the number of Spark jobs it started. */
  def countingJobs[T](label: String)(body: => T): (T, Int) = {
    val group = "counting-jobs"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      ListenerDrain(sc)
      sc.setJobGroup(group, label)
      val out = try body finally sc.clearJobGroup()
      ListenerDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
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
