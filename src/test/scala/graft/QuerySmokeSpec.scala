package graft

/** t1-style smoke: every registered query runs at sf0.001 without
  * throwing, and its oracle (if any) is non-empty SQL. The value-level
  * check is Verify + the DuckDB oracle at sf0.01 (driver gate t2). */
class QuerySmokeSpec extends SparkTestBase {

  graft.queries.Registry.specs.foreach { spec =>
    test(s"${spec.name} runs at sf0.001") {
      QueryRunner.run(spark, spec.name, sf0001)(QueryRunner.noop).error.foreach(throw _)
      spec.oracle.foreach(sql => assert(sql.trim.nonEmpty))
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query/oracle name alignment") {
    val q = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(q))
  }

  test("q23's HLL bound columns hold at smoke scale") {
    import org.apache.spark.sql.functions.col
    // r17: the 5%-bound booleans ARE the oracle-gated surface (rsd 0.01
    // sketch, gate 5 rsd out) — a broken sketch or a broken exact path
    // flips them false here before the driver ever runs
    val rows = graft.queries.Registry.specs.find(_.name == "q23_approx_distinct").get
      .run(spark, sf0001)
      .select(col("parts_ok"), col("orders_ok"))
      .collect().flatMap(r => Seq(r.getBoolean(0), r.getBoolean(1)))
    assert(rows.nonEmpty && rows.forall(identity), s"bounds: ${rows.toSeq}")
  }
}
