package graft

/** The shared session posture every main and suite gets from Harness. */
class HarnessSpec extends SparkSpec {

  test("Harness.session: UTC, no UI, the caller's shuffle partitions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    // AQE and skew joins are on by Spark's defaults, not set explicitly
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(!Ckpt.reliable(spark), "a local master must keep local checkpoints")
  }
}
