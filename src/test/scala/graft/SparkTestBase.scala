package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local[4] session per suite, built by [[GraftSession]] so the
  * specs run the configuration Verify, Bench and the CLI run.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  def fixturePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.build(4, "graft-test")
}
