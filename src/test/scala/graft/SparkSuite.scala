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
}

object SparkSuite {
  /** Fixture root — env-overridable so the suite runs on any checkout
    * layout, not just this machine's /root/testdata. */
  val testData: String = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")

  /** The harness session Bench and Verify run under, at 4 slots: specs
    * pin 4 shuffle partitions (EtlSpec, Dsum6Spec). */
  lazy val session: SparkSession = Harness.session(4)
}
