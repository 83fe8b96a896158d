package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(name: String): String = s"/root/testdata/$name"
}

object SparkTestBase {
  lazy val session: SparkSession = Session.local("graft-test", 4)
}
