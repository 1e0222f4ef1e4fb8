package graft

/** [[Session.withConf]]: every key comes back as it was, on success
  * and on exception — set keys to their old value, unset keys unset. */
class SessionSpec extends SparkSpec {

  private val SetKey = "spark.sql.shuffle.partitions"
  // registered, with a default, and unset in the spec session: a
  // getOption-based restore would leave it set to that default
  private val UnsetKey = "spark.sql.autoBroadcastJoinThreshold"

  private def explicit(k: String): Option[String] = spark.conf.getAll.get(k)

  test("withConf sets every key for the body and restores a set key " +
      "and leaves an unset key unset afterwards") {
    val before = spark.conf.get(SetKey)
    assert(explicit(UnsetKey).isEmpty, "precondition: key unset")
    val seen = Session.withConf(spark, SetKey -> "7", UnsetKey -> "-1") {
      (spark.conf.get(SetKey), spark.conf.get(UnsetKey))
    }
    assert(seen === ("7", "-1"))
    assert(spark.conf.get(SetKey) === before)
    assert(explicit(UnsetKey).isEmpty, "unset key left set after the scope")
  }

  test("withConf restores on exception and nests") {
    val before = spark.conf.get(SetKey)
    val e = intercept[IllegalStateException] {
      Session.withConf(spark, SetKey -> "3", UnsetKey -> "-1") {
        Session.withConf(spark, SetKey -> "5") {
          assert(spark.conf.get(SetKey) === "5")
        }
        assert(spark.conf.get(SetKey) === "3")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.conf.get(SetKey) === before)
    assert(explicit(UnsetKey).isEmpty)
  }
}
