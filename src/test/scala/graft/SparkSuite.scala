package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  /** Fixture dir for a scale factor, e.g. `sfDir("0.001")`. */
  protected def sfDir(sf: String): String = s"${SparkSuite.testData}/sf$sf"
  override def afterAll(): Unit = () // session shared across suites

  /** The local properties of every Spark job started while `body` runs,
    * in start order. A marker job runs after `body`; the listener bus
    * delivers in order, so once the marker is seen every job of `body`
    * has been recorded. */
  protected def jobsDuring(body: => Unit): Seq[java.util.Properties] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties()))
    }
    val marker = s"marker_${System.nanoTime()}"
    def isMarker(p: java.util.Properties) = p.getProperty("graft.test.marker") == marker
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.marker", marker)
      try spark.range(1).count() finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(isMarker), "the marker job was never seen")
      seen.asScala.toSeq.takeWhile(!isMarker(_))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuite {
  /** Fixture root — env-overridable so the suite runs on any checkout
    * layout, not just this machine's /root/testdata. */
  val testData: String = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")

  /** The harness session Bench and Verify run under, at 4 slots: specs
    * pin 4 shuffle partitions (EtlSpec, Dsum6Spec). */
  lazy val session: SparkSession = Harness.session(4)
}
