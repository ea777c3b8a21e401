package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** The shipped session config ([[GraftSession]]) at `local[4]`: tests
    * pin the plans and run the streams the bench runs. */
  lazy val session: SparkSession = {
    val s = GraftSession.create(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
