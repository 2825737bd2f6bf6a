package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must run and return rows on the smoke fixture,
  * and every oracle entry must point at a registered query. No query may
  * change shared session state: each leaves the session conf and the
  * session's extra optimizer rules exactly as it found them.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are all registered queries") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle entries without queries: $unknown")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs with rows > 0 on sf0.001") {
      val conf = spark.conf.getAll
      val rules = spark.experimental.extraOptimizations
      assert(fn(spark, TestSpark.sf).count() > 0, s"$name returned 0 rows")
      val after = spark.conf.getAll
      assert(after == conf, s"$name changed the session conf: " +
        ((after.toSet diff conf.toSet) ++ (conf.toSet diff after.toSet)))
      assert(spark.experimental.extraOptimizations == rules,
        s"$name changed the session's optimizer rules")
    }
  }
}
