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

  lazy val spark: SparkSession = Sessions.tune(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate())
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
