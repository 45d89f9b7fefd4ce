package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: the one [[HarnessSession]] definition. build.sbt
  * pins `local[4]` and 4 shuffle partitions for the test JVM with `-D`s,
  * which win over the session's defaults on every host. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sc = spark.sparkContext
}

object SparkSpec {
  lazy val session: SparkSession = HarnessSession.build()
}
