package graft

/** `Session.withConf`: the one scoped session-conf override. */
class SessionConfSpec extends SparkSpec {

  test("withConf restores a prior value and unsets a key that had none, also on a throw") {
    val had = "spark.sql.autoBroadcastJoinThreshold"
    val unset = "withconf.spec.probe"
    val prior = spark.conf.get(had)
    assert(spark.conf.getOption(unset).isEmpty)
    val seen = Session.withConf(spark, had -> "-1", unset -> "x") {
      (spark.conf.get(had), spark.conf.get(unset))
    }
    assert(seen == ("-1", "x"))
    assert(spark.conf.get(had) == prior)
    assert(spark.conf.getOption(unset).isEmpty)
    intercept[IllegalStateException] {
      Session.withConf(spark, had -> "-1", unset -> "x") {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get(had) == prior)
    assert(spark.conf.getOption(unset).isEmpty)
  }
}
