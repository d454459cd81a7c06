package graft

/** The extensions installer (`spark.sql.extensions=graft.GraftExtensions`,
  * set on the shared test session) must make `unique_words_ratio` available
  * with no explicit registration call — the cluster-deployment path. */
class GraftExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions installs the native function surface") {
    val r = spark.sql("SELECT unique_words_ratio('a b a') AS r").head().getDouble(0)
    assert(math.abs(r - 2.0 / 3.0) < 1e-15)
    val d = spark.sql(
      "SELECT dot_f32(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(2 AS FLOAT), CAST(0.5 AS FLOAT)))").head().getDouble(0)
    assert(d == 4.0)
    // morton interleave: x=3 (bits 0,1 -> even 0,2), y=3 (-> odd 1,3) = 15
    val z = spark.sql("SELECT interleave_bits(3L, 3L)").head().getLong(0)
    assert(z == 15L)
  }
}
