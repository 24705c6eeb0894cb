package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The entry-point smoke call: `SparkEntry.entry` on a session built WITHOUT
  * GraftExtensions must register the native functions itself
  * (`GeoExpressions.ensureRegistered`) and return rows. */
class VanillaSessionSpec extends AnyFunSuite {

  private lazy val spark = Sessions.build("local[4]", 4)

  test("SparkEntry.entry on a session without GraftExtensions returns rows") {
    val sc = spark.sparkContext
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // no active/default session: the builder wraps the running
      // SparkContext in a NEW session with fresh (empty) extensions
      val vanilla = SparkSession.builder().getOrCreate()
      assert(vanilla ne spark)
      assert(vanilla.sparkContext eq sc)
      assert(!vanilla.catalog.functionExists("st_contains_point"),
        "a vanilla session must not see GraftExtensions' functions")
      assert(SparkEntry.entry(vanilla).count() > 0)
      assert(vanilla.catalog.functionExists("st_contains_point"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }
}
