package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits exactly (a odd positions, b even)") {
    // a=5 (101), b=3 (011), bits=3 -> z = 0b100111 = 39
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zValue($"a", $"b", 3).as("z")).as[Long].head()
    assert(got == 39L)
    // scalar cross-check against a driver-side morton reference
    def morton(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i => (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))).reduce(_ | _)
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(50)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val zs = cases.toDF("a", "b").select($"a", $"b", Layout.zValue($"a", $"b", 10).as("z"))
      .as[(Long, Long, Long)].collect()
    zs.foreach { case (a, b, z) => assert(z == morton(a, b, 10), s"($a,$b)") }
  }

  test("zorderStats cells bound both dimensions (the zone-map locality claim)") {
    val grid = for { a <- 0 until 16; b <- 0 until 16 } yield (a.toLong, b.toLong)
    val stats = Layout.zorderStats(grid.toDF("a", "b"), "a", "b", bits = 4, prefixBits = 2)
      .orderBy("z_cell")
      .select($"z_cell", $"n_rows", $"min_a", $"max_a", $"min_b", $"max_b")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // top 2 bits of z = (a_msb, b_msb) -> four 8x8 quadrants of 64 rows
    assert(stats.length == 4)
    stats.foreach { case (_, n, minA, maxA, minB, maxB) =>
      assert(n == 64L)
      assert(maxA - minA == 7L && maxB - minB == 7L)
    }
  }
}
