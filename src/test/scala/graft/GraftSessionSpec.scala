package graft

/** The session factory's confs: what every main and the test session
  * are built with. */
class GraftSessionSpec extends SparkSpec {

  test("conf pins master, shuffle partitions, UTC zone, nanosAsLong and UI off") {
    val c = GraftSession.conf("local[8]", 8).toMap
    assert(c == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "WARN"))
    // master and partitions are independent (ConvertMain: local[*] with
    // one partition per available processor)
    val star = GraftSession.conf("local[*]", 3).toMap
    assert(star("spark.master") == "local[*]")
    assert(star("spark.sql.shuffle.partitions") == "3")
  }

  test("app name and warehouse dir are set only when given") {
    val c = GraftSession.conf("local[2]", 2, appName = Some("app"),
      warehouseDir = Some("/tmp/wh")).toMap
    assert(c("spark.app.name") == "app")
    assert(c("spark.sql.warehouse.dir") == "/tmp/wh")
    val bare = GraftSession.conf("local[2]", 2).toMap
    assert(!bare.contains("spark.app.name") && !bare.contains("spark.sql.warehouse.dir"))
  }

  test("the test session is built by the factory with its confs") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.appName == "graft-test")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      .endsWith("/tmp/graft_warehouse"))
    // adaptive execution is on by Spark's default; the factory leaves it
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
