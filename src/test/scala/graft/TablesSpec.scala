package graft

import org.apache.spark.sql.functions._

/** Pins the registerAll memo contract (Tables.registeredFor): a repeat
  * call is a no-op and an sfDir change re-registers. Nothing else may
  * replace the ten views in a caller's session — the scale probes build
  * their replicated views in a child session — so the memo never needs
  * invalidating.
  */
class TablesSpec extends SparkSuite {

  private val sfA = "/root/testdata/sf0.001"
  private val sfB = "/root/testdata/sf0.01"

  private def nationRows(): Long = spark.table("nation").count()

  test("registerAll memo: repeat call serves the same frames, sfDir change re-registers") {
    Tables.registerAll(spark, sfA)
    val a = nationRows()
    Tables.registerAll(spark, sfA) // memo no-op — views must still resolve
    assert(nationRows() == a)
    Tables.registerAll(spark, sfB) // different dir: must NOT memo-hit
    val b = spark.table("orders").count()
    Tables.registerAll(spark, sfA)
    val a2 = spark.table("orders").count()
    assert(b != a2, "sfDir switch must swap the registered views " +
      s"(orders sf0.01=$b vs sf0.001=$a2)")
  }

  test("a scale probe never changes the caller's ten views") {
    Tables.registerAll(spark, sfA)
    val base = spark.table("lineitem").count()
    val child = queries.ScaleProbes.replicated(spark, sfA, factor = 2)
    assert(child.table("lineitem").count() == base * 2,
      "replicated views must be active in the probe's session")
    assert(SparkEntry.benchOnly("b_tpch18_scale8")(spark, sfA).count() == 1)
    assert(spark.table("lineitem").count() == base,
      "the caller must still see the 1x views")
  }
}
