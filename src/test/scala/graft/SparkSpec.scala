package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs: the production
  * [[GraftSession]] on local[4], with a temporary warehouse. One
  * JVM-wide session keeps the suite seconds-fast; tests must not
  * mutate global session state.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.create(cpus = 4, warehouseDir =
      Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
    // native graft functions resolvable from any spec (idempotent)
    graft.functions.GraftSparkExtensions.register(s)
    s
  }
}
