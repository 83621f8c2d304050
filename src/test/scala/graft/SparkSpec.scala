package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkSpec {
  /** Created, and graft installed into it, once per test JVM. */
  lazy val session: SparkSession = {
    val s = graft.core.Tables.localSession("4").getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }
}

/** Shared local SparkSession for suites (small parallelism — test data is
  * tiny; shuffle partitions kept low so tests stay fast). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // Session is shared process-wide across suites; do not stop it here.
    super.afterAll()
  }
}
