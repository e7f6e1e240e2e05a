package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Base of every Spark-backed suite: a lazy `local[cores]` session from
  * [[Sessions.local]], stopped after the suite. A suite whose tests all
  * cancel never starts one. `sqlConf` pairs are applied with
  * `spark.conf.set`, for suites that test a non-default SQL setting. */
abstract class SparkSuite(cores: Int, sqlConf: (String, String)*)
    extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private var started = false

  protected lazy val spark: SparkSession = {
    started = true
    val s = Sessions.local(cores)
    sqlConf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  override def afterAll(): Unit =
    try super.afterAll() finally if (started) spark.stop()
}
