package graft

/** Guards the driver contract itself: oracle keys must reference real
  * queries, names must be well-formed, and the flagship smoke query must
  * return rows — wiring mistakes here would silently zero a round's
  * correctness score.
  */
class SparkEntrySpec extends SparkSpec {

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    orphans shouldBe empty
  }

  test("query names are unique, non-empty, and shell-safe") {
    val names = SparkEntry.queries.keys.toSeq
    names.distinct.size shouldBe names.size
    names.foreach(_ should fullyMatch regex "[a-z0-9_]+")
  }

  test("oracle SQL never references absolute paths or write operations") {
    SparkEntry.oracleSql.values.foreach { sql =>
      sql.toLowerCase should not include "insert "
      sql.toLowerCase should not include "copy "
      sql should not include "/tmp/"
    }
  }

  test("flagship entry query returns rows on sf0.001") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("ScaleProbe roster names only registered gates, exactly once") {
    // the r9 damage mode: a snapshot commit de-registered gates the
    // probe roster still named, so every default probe run crashed.
    // This pins roster ⊆ queries (and no duplicate roster rows) inside
    // the suite, so a half-reverted tree fails `sbt test`, not ScaleProbe.
    val roster = ScaleProbe.DefaultProbes
    val dangling = roster.filterNot(SparkEntry.queries.contains)
    withClue(s"probe roster gates missing from SparkEntry.queries: $dangling") {
      dangling shouldBe empty
    }
    roster.distinct.size shouldBe roster.size
  }

  test("most queries are oracle-checked; rows-only is the exception") {
    // the rows-only set is pinned by name, not by ratio: a new gate
    // without an oracle fails here instead of passing silently
    SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet shouldBe Set(
      "q09_agg_approx", "q102b_data_profile_approx",
      "q36b_winsorize_approx", "q59_hash_xxhash64", "q88_sketch_rollup",
      "t27_classifier_train")
  }
}
