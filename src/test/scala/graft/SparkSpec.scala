package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  // Operator-internal persisted relations (Caches.sharedCache) are released
  // per-suite so the shared session never accumulates pinned corpora across
  // the ~30 suites of a full `sbt test` run.
  override protected def afterAll(): Unit = {
    Caches.release()
    super.afterAll()
  }
}

object SparkSpec {
  /** Bench's session ([[Actions.session]]), so the specs check the plans
    * Bench times and Verify gates. Two JVM system properties ride along:
    * every spec runs with the increment operators' insert-only
    * precondition assertions armed (operators.Checks) — contract
    * violations fail tests loudly, production pays nothing — and
    * `SparkConf` loads `spark.*` properties, which keeps the specs'
    * warehouse out of the working directory.
    */
  lazy val session: SparkSession = {
    System.setProperty("graft.spark.debug.checks", "true")
    System.setProperty("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    Actions.session(4)
  }
}
