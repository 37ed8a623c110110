package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Sessions

/** Shared local session for suites (one per JVM — `Test / fork := true`
  * gives the whole test run a single forked JVM, so `getOrCreate`
  * naturally shares it).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.get("graft-test", "local[4]", 4)

  val Sf0001 = "/root/testdata/sf0.001"
  val FixtureCsv = "src/test/resources/taxi_fixture.csv"

  private val madeDirs = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A fresh `graft_<name>*` dir under `java.io.tmpdir`, deleted with
    * everything in it once the suite has run.
    */
  def tmpDir(name: String): String = synchronized {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    madeDirs += d
    d
  }

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally synchronized {
      madeDirs.foreach(graft.streaming.EventStreams.wipeTree)
      madeDirs.clear()
    }
}
