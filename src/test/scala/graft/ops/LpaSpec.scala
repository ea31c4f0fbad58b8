package graft.ops

import graft.SparkSpec

/** Hand-computed gate for the deterministic synchronous LPA. Graph: two
  * triangles {a1,a2,a3} and {b1,b2,b3} bridged by a3—b1. Worked by hand
  * (count-desc/label-asc argmax, synchronous):
  *
  *   r1: a1→a2 a2→a1 a3→a1 | b1→a3 b2→b1 b3→b1
  *   r2: a1→a1 a2→a1 a3→a1 | b1→b1 b2→a3 b3→a3
  *   r3: a1→a1 a2→a1 a3→a1 | b1→a3 b2→a3 b3→a3
  *
  * Two communities emerge with distinct labels and the bridge does not
  * merge them. */
class LpaSpec extends SparkSpec {
  import spark.implicits._

  test("3-round synchronous LPA on bridged triangles matches hand-run") {
    val und = Seq("a1" -> "a2", "a1" -> "a3", "a2" -> "a3",
      "b1" -> "b2", "b1" -> "b3", "b2" -> "b3", "a3" -> "b1")
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Lpa.propagate(edges, 3)
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "a1" -> "a1", "a2" -> "a1", "a3" -> "a1",
      "b1" -> "a3", "b2" -> "a3", "b3" -> "a3"))
  }

  test("LPA on a clique converges to the minimum node label") {
    val nodes = Seq("x", "y", "z", "w")
    val und = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Lpa.propagate(edges, 3)
      .as[(String, String)].collect().toMap
    assert(got.keySet == nodes.toSet)
    assert(got.values.toSet == Set("w"), s"clique did not converge: $got")
  }

  // a change to the per-call or per-round work must update the pin
  test("job count pinned: propagate at 3 rounds runs 16 Spark jobs") {
    val und = Seq("a1" -> "a2", "a1" -> "a3", "a2" -> "a3",
      "b1" -> "b2", "b1" -> "b3", "b2" -> "b3", "a3" -> "b1")
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val (_, jobs) = withJobCount(Lpa.propagate(edges, 3))
    assert(jobs === 16)
  }
}
