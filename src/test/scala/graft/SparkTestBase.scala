package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  /** A private warehouse per JVM, deleted at exit: managed tables never
    * land in the working directory's `spark-warehouse/`, so no run can
    * trip over the tables an earlier run left there.
    */
  private lazy val warehouse: java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir
  }

  lazy val spark: SparkSession =
    Sessions.local(4, "spark.sql.warehouse.dir" -> warehouse.getAbsolutePath)
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
