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

  /** A JVM restart under the in-memory catalog: every entry of the tables
    * whose names start with `prefix` is gone, every directory stays.
    */
  def forget(prefix: String): Unit =
    spark.catalog.listTables().collect()
      .filter(x => !x.isTemporary && x.name.startsWith(prefix)).foreach { x =>
        val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
            x.name)).location)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val aside = loc.suffix(".aside")
        assert(fs.rename(loc, aside))
        spark.sql(s"DROP TABLE `${x.name}`")
        assert(fs.rename(aside, loc))
      }
}
