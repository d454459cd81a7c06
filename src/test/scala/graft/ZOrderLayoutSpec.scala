package graft

import org.apache.spark.sql.functions._

/** Z-order (Morton) layout as the multi-dimensional pruning primitive: a
  * linear sort clusters only its leading column, so a range predicate on any
  * OTHER dimension touches every file; interleaving the dimension bits
  * (`interleave_bits`) bounds the files any 2-D box query touches. This spec
  * measures the real effect on parquet files — the same locality min/max
  * row-group pruning exploits at 100 TB.
  */
class ZOrderLayoutSpec extends SparkSpec {

  test("z-ordered layout confines a box query to few files; linear layout does not") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"),
        (col("event_id") % 1024).as("tbucket"))
      .withColumn("z", expr("interleave_bits(user_id, tbucket)"))

    val zDir = java.nio.file.Files.createTempDirectory("graft_zord_").toString
    val xDir = java.nio.file.Files.createTempDirectory("graft_linear_").toString
    ev.repartitionByRange(16, col("z")).write.mode("overwrite").parquet(zDir)
    ev.repartitionByRange(16, col("user_id"), col("event_id"))
      .write.mode("overwrite").parquet(xDir)

    // box predicate on the NON-leading dimension of the linear layout
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir).filter(col("tbucket") < 64)
        .select(input_file_name()).distinct().count()

    val zFiles = filesTouched(zDir)
    val xFiles = filesTouched(xDir)
    assert(xFiles >= 12, s"linear layout should scatter the box over ~all 16 files, got $xFiles")
    assert(zFiles <= 4, s"z-order should confine the box to few files, got $zFiles")
  }

  test("morton code round-trips and is monotone per dimension (property)") {
    import graft.functions.InterleaveBits.{morton, spread}
    import org.scalacheck.Gen
    // inverse of spread: collapse even bit positions back to a 32-bit value
    def unspread(z0: Long): Long = {
      var v = z0 & 0x5555555555555555L
      v = (v | (v >> 1))  & 0x3333333333333333L
      v = (v | (v >> 2))  & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4))  & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8))  & 0x0000FFFF0000FFFFL
      v = (v | (v >> 16)) & 0x00000000FFFFFFFFL
      v
    }
    val coord = Gen.chooseNum(0L, (1L << 31) - 1)
    // Gen.sample is Option-valued (can return None on retry exhaustion) —
    // draw until it yields rather than .get-ing a possible None
    val pairs = Iterator.continually(
      Gen.listOfN(500, Gen.zip(coord, coord)).sample).flatten.next()
    pairs.foreach { case (x, y) =>
      val z = morton(x, y)
      assert(unspread(z) == x && unspread(z >> 1) == y,
        s"round-trip failed for ($x, $y)")
      assert(z >= 0L, "31-bit inputs must yield a sign-safe code")
    }
    // fixing one dimension, the code is strictly monotone in the other
    pairs.sliding(2).foreach {
      case List((x1, y), (x2, _)) if x1 != x2 =>
        assert((x1 < x2) == (morton(x1, y) < morton(x2, y)))
        assert((x1 < x2) == (morton(y, x1) < morton(y, x2)))
      case _ =>
    }
  }

  test("morton spread is exact and order-preserving per dimension") {
    import graft.functions.InterleaveBits.{morton, spread}
    assert(spread(0L) == 0L && spread(1L) == 1L && spread(2L) == 4L && spread(3L) == 5L)
    assert(morton(0L, 1L) == 2L && morton(1L, 0L) == 1L && morton(3L, 3L) == 15L)
    // interleave of 31-bit inputs stays non-negative (sign-safe ordering)
    assert(morton((1L << 31) - 1, (1L << 31) - 1) > 0L)
  }
}
