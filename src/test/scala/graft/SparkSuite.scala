package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the suites — the [[GraftSession]] recipe at a
  * fixed 4 cores, so test partitioning does not follow the host.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSuite.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSuite {
  lazy val session: SparkSession = GraftSession.local(4)
}
