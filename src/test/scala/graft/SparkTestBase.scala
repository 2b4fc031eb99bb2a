package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM, over a private
  * warehouse deleted at exit ([[Sessions.tempWarehouse]]): managed tables
  * never land in the working directory's `spark-warehouse/`, so no run can
  * trip over the tables an earlier run left there.
  */
object SparkTestBase {
  lazy val spark: SparkSession = Sessions.local(4, Sessions.tempWarehouse)
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
