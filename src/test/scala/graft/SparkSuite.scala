package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (same JVM under
  * `Test / fork`). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.spark
  def sfDir: String = SparkSuite.sfDir

  private val tempDirs = mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh directory under the JVM temp dir, deleted with everything
    * in it once the suite's tests have run. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.synchronized { tempDirs.foreach(FileUtils.deleteQuietly(_): Unit) }
}
