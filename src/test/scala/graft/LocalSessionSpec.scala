package graft

/** [[LocalSession]] is the one session setup of the mains and of the
  * suites ([[SparkSpec]] builds its session with it).
  */
class LocalSessionSpec extends SparkSpec {

  test("the local session factory pins master, shuffle partitions, UTC, no UI, nanosAsLong and the extensions") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.sessionState.sqlParser.isInstanceOf[graft.plans.GraftSqlParser])
  }
}
