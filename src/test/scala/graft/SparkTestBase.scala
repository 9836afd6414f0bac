package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one per JVM — sbt forks one test
  * JVM, sessions are reused via getOrCreate): the engine configuration Bench
  * runs, on a fixed local[4] so pinned partition counts do not depend on the
  * machine.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.builder(cpus = 4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()

  override protected def afterAll(): Unit = {
    // keep the session alive for sibling suites; stopped by the JVM exit
    super.afterAll()
  }
}
