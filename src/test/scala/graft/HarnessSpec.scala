package graft

/** Pins the tooling session's configuration: the 268 oracle gates are
  * verified and benched under it, so a tooling edit must not change it
  * silently.
  */
class HarnessSpec extends SparkSpec {

  test("a tooling session runs one shuffle partition per core, UTC, no UI") {
    for (cores <- Seq("4", "32")) {
      Harness.settings(cores) shouldBe Map(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> cores,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false")
    }
  }

  test("the spec session is a 4-core harness session") {
    // the SparkConf holds what the builder set, whatever a spec later
    // changes through spark.conf at runtime
    val conf = spark.sparkContext.getConf
    conf.get("spark.master") shouldBe "local[4]"
    conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    conf.get("spark.ui.enabled") shouldBe "false"
    conf.get("spark.app.name") shouldBe "graft-test"
    conf.get("spark.sql.warehouse.dir") should include ("graft-warehouse")
  }
}
