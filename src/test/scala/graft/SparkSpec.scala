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
    // Release what the suite's query builds left tracked, as the catalog
    // drivers do between queries: a frame left cached makes the next
    // suite's build of the same query persist already-cached data.
    graft.core.CacheLedger.release()
    super.afterAll()
  }
}
