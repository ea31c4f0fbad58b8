package graft.ops

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("interleave matches the host-side Morton code (and known values)") {
    // 2-bit, 2-col: z = x1 y1 x0 y0
    assert(ZOrder.interleaveHost(Seq(3L, 0L), 2) == 10L) // 1010
    assert(ZOrder.interleaveHost(Seq(0L, 3L), 2) == 5L)  // 0101
    assert(ZOrder.interleaveHost(Seq(2L, 1L), 2) == 9L)  // 1001
    val rows = for (a <- 0L until 8L; b <- 0L until 8L) yield (a, b)
    val got = rows.toDF("a", "b")
      .select($"a", $"b", ZOrder.interleave(Seq($"a", $"b"), 3).as("z"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (a, b) =>
      assert(got((a, b)) == ZOrder.interleaveHost(Seq(a, b), 3))
    }
    // distinct inputs → distinct codes (it's a bijection on the grid)
    assert(got.values.toSeq.distinct.size == 64)
  }
}
