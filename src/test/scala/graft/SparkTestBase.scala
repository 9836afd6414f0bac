package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
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

  /** Runs `body` under its own job group and returns the jobs it started,
    * in the order they started. A fence job run after `body` marks the end:
    * the listener bus delivers events in order, so once the fence's end is
    * seen every event of `body`'s jobs has been seen too.
    */
  def jobsOf(body: => Unit): Seq[SparkListenerJobStart] = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    @volatile var fenceJob = -1
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e)
          case Some(`fence`) => fenceJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == fenceJob) fenced = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      def inGroup[T](g: String)(f: => T): T = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(fence)(sc.parallelize(Seq(1), 1).count())
      eventually(timeout(30.seconds))(assert(fenced))
    } finally sc.removeSparkListener(listener)
    jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }

  override protected def afterAll(): Unit = {
    // keep the session alive for sibling suites; stopped by the JVM exit
    super.afterAll()
  }
}
