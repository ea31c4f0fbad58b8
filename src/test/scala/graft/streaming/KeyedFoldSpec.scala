package graft.streaming

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.AnyOperators
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import StreamJob._

/** Cut invariance of the stateful streaming twins' per-batch fold,
  * host-only (no Spark). A random per-key event sequence in the twin's
  * order (es ties included) is cut into contiguous micro-batches at
  * random points, each batch is shuffled, and the batches are folded
  * one by one with the carried state: the emissions and the final state
  * must equal one fold over the whole sequence. */
class KeyedFoldSpec extends AnyFunSuite {

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(300).withInitialSeed(Seed(42L))

  private def check(p: Prop): Unit = {
    val res = Test.check(params, p)
    assert(res.passed, res.status)
  }

  private def cutInvariant[K, I, S, O](f: KeyedFold[K, I, S, O], key: K,
                                       gen: Gen[Vector[I]]): Prop =
    Prop.forAll(gen, Gen.listOf(Gen.choose(0, 1000)), Gen.long) {
      (rows, cutDraws, shuffleSeed) =>
        val cuts = (0 +: cutDraws.map(_ % (rows.length + 1)) :+ rows.length)
          .distinct.sorted
        val rnd = new Random(shuffleSeed)
        val batches = cuts.zip(cuts.tail)
          .map { case (a, b) => rnd.shuffle(rows.slice(a, b)) }
        val cut = batches.foldLeft((Option.empty[S], Vector.empty[O])) {
          case ((carried, emitted), batch) =>
            val (next, out) =
              KeyedFold.foldBatch(f, key, carried, batch.iterator)
            (next, emitted ++ out)
        }
        cut ?= KeyedFold.foldBatch(f, key, None, rows.iterator)
    }

  private val User = 7L

  /** 1..maxN (es, event_id) pairs in (es, event_id) order: es
    * non-decreasing with frequent ties, event ids unique. */
  private def timeline(maxN: Int): Gen[Vector[(Long, Long)]] = for {
    n <- Gen.choose(1, maxN)
    gaps <- Gen.listOfN(n,
      Gen.frequency(3 -> Gen.const(0L), 2 -> Gen.choose(1L, 5L)))
    ids <- Gen.pick(n, 0L until 10L * maxN)
  } yield gaps.scanLeft(1000L)(_ + _).tail.zip(ids).sorted.toVector

  /** 1..maxN strictly increasing closed hourly buckets with values. */
  private def buckets(maxN: Int): Gen[Vector[(Long, Long)]] = for {
    n <- Gen.choose(1, maxN)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 3L))
    vs <- Gen.listOfN(n, Gen.choose(0L, 100L))
  } yield gaps.scanLeft(0L)(_ + _).tail.zip(vs).toVector

  test("SPRT fold: every batch cut ≡ one fold over the whole sequence") {
    val rows = for {
      t <- timeline(80)
      p <- Gen.choose(0.0, 1.0)
      xs <- Gen.listOfN(t.length, Gen.prob(p))
    } yield t.zip(xs).map { case ((es, id), x) =>
      SprtIn(User, id, es, if (x) 1L else 0L) }
    check(cutInvariant(sprtFold, User, rows))
  }

  test("CUSUM fold: every batch cut ≡ one fold over the whole sequence") {
    val rows = for {
      t <- timeline(60)
      qs <- Gen.listOfN(t.length, Gen.choose(0L, 20L))
    } yield t.zip(qs).map { case ((es, id), q) =>
      CusumIn(User, id, es, q, qs.sum, t.length.toLong) }
    check(cutInvariant(cusumFold, User, rows))
  }

  test("Holt fold: every batch cut ≡ one fold over the whole sequence") {
    val rows = buckets(40).map(_.map { case (hr, v) =>
      HoltIn("click", hr, v) })
    check(cutInvariant(holtFold, "click", rows))
  }

  test("EWMA fold: every batch cut ≡ one fold over the whole sequence") {
    val rows = for {
      t <- timeline(60)
      vcs <- Gen.listOfN(t.length, Gen.choose(0L, 20L))
      mu <- Gen.choose(0.0, 20.0)
      sig <- Gen.choose(0.1, 5.0)
    } yield t.zip(vcs).map { case ((es, id), vc) =>
      EwmaIn(User, id, es, vc, mu, sig) }
    check(cutInvariant(ewmaAlarmFold, User, rows))
  }

  test("Page–Hinkley fold: every batch cut ≡ one fold over the whole " +
      "sequence") {
    val rows = for {
      t <- timeline(60)
      qs <- Gen.listOfN(t.length, Gen.choose(0L, 50L))
    } yield t.zip(qs).map { case ((es, id), q) => PhIn(User, id, es, q) }
    check(cutInvariant(pageHinkleyFold, User, rows))
  }

  test("Holt–Winters fold (init phase across the cut): every batch cut " +
      "≡ one fold over the whole sequence") {
    val rows = buckets(90).map(_.map { case (hr, v) =>
      HwIn("click", hr, v) })
    check(cutInvariant(holtWintersFold, "click", rows))
  }
}
