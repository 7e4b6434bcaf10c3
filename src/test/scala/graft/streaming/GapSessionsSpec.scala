package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import GapSessions.{Keyed, Open}

/** [[GapSessions.step]], the per-key step every event-time gap-session
  * operator runs, without Spark: seeded random streams (ts ties,
  * out-of-order arrival, random batch splits, monotone watermarks that
  * drop late events as Spark's stateful operator does) must close into
  * exactly the maximal event-time runs whose consecutive gaps are
  * < gap, each event in exactly one session, ordinals 1, 2, … per key. */
class GapSessionsSpec extends AnyFunSuite {

  private val Gap = 10L

  /** (key, ts, id) */
  private type Ev = (Int, Long, Int)

  private def concatIds(a: List[Int], b: List[Int]) = GapSessions.concat(a, b)

  /** The maximal runs of `evs` sorted by time whose consecutive gaps
    * are < Gap, as (start, last, ids). */
  private def runs(evs: Seq[Ev]): List[(Long, Long, Set[Int])] =
    evs.sortBy(_._2).foldLeft(List.empty[(Long, Long, Set[Int])]) {
      case ((s, l, ids) :: rest, (_, ts, id)) if ts < l + Gap => (s, ts, ids + id) :: rest
      case (acc, (_, ts, id)) => (ts, ts, Set(id)) :: acc
    }.reverse

  test("random streams close into the maximal event-time runs, each event " +
      "once, ordinals 1, 2, … per key") {
    for (seed <- 1 to 500) {
      val rnd = new scala.util.Random(seed)
      val keys = 1 + rnd.nextInt(3)
      // ts drawn from a narrow range so ties and near-gap spacings are common
      val evs: Vector[Ev] = Vector.tabulate(rnd.nextInt(60)) { id =>
        (rnd.nextInt(keys), rnd.nextInt(300).toLong, id)
      }
      val arrival = rnd.shuffle(evs)
      val cuts = (0 +: Vector.fill(rnd.nextInt(6))(rnd.nextInt(arrival.length + 1)) :+
        arrival.length).sorted
      var wm = -1L
      val state = scala.collection.mutable.Map.empty[Int, Keyed[List[Int]]]
      val closed = scala.collection.mutable.Map.empty[Int, Vector[(Long, Open[List[Int]])]]
        .withDefaultValue(Vector.empty)
      val survivors = Vector.newBuilder[Ev]
      def stepAll(batch: Seq[Ev], wmUs: Long): Unit = (0 until keys).foreach { k =>
        val (next, out) = GapSessions.step(
          state.getOrElse(k, Keyed[List[Int]](1L, Nil)),
          batch.filter(_._1 == k).map(e => (e._2, List(e._3))), wmUs, Gap)(concatIds)
        state(k) = next
        closed(k) = closed(k) ++ out
      }
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        // Spark drops an event at or behind the batch's watermark
        val batch = arrival.slice(a, b).filter(_._2 > wm)
        survivors ++= batch
        stepAll(batch, wm)
        if (rnd.nextBoolean()) wm += rnd.nextInt(80)
      }
      stepAll(Nil, Long.MaxValue / 2) // the final watermark closes everything
      val kept = survivors.result()

      val emitted = closed.values.flatten.flatMap(_._2.s).toVector
      assert(emitted.sorted === kept.map(_._3).sorted, s"seed $seed: each event exactly once")
      (0 until keys).foreach { k =>
        assert(state(k).open.isEmpty, s"seed $seed key $k: sessions left open")
        val got = closed(k)
        assert(got.map(_._1) === (1L to got.length.toLong), s"seed $seed key $k: ordinals")
        assert(got.map { case (_, o) => (o.startUs, o.lastUs, o.s.toSet) }.toList ===
          runs(kept.filter(_._1 == k)), s"seed $seed key $k: not the maximal runs")
      }
    }
  }

  test("two bursts ≥ gap apart close separately, whatever the watermark jump") {
    val bursts = Seq((0L, List(1)), (2L, List(2)), (50L, List(3)), (53L, List(4)))
    val empty = Keyed[List[Int]](1L, Nil)
    // one jump past both: two sessions, not one
    val (all, both) = GapSessions.step(empty, bursts, 100L, Gap)(concatIds)
    assert(all.open.isEmpty)
    assert(both.map { case (i, o) => (i, o.startUs, o.lastUs, o.s.toSet) } ===
      List((1L, 0L, 2L, Set(1, 2)), (2L, 50L, 53L, Set(3, 4))))
    // a watermark between the two closes the first and keeps the second
    val (mid, first) = GapSessions.step(empty, bursts, 20L, Gap)(concatIds)
    assert(first.map(_._1) === List(1L))
    assert(mid.next === 2L)
    assert(mid.open.map(o => (o.startUs, o.lastUs, o.s.toSet)) === List((50L, 53L, Set(3, 4))))
    // a bridging event merges two open sessions into one
    val (bridged, none) = GapSessions.step(
      Keyed(1L, List(Open(0L, 2L, List(1)), Open(15L, 15L, List(2)))),
      Seq((8L, List(3))), 0L, Gap)(concatIds)
    assert(none.isEmpty)
    assert(bridged.open.map(o => (o.startUs, o.lastUs, o.s.toSet)) ===
      List((0L, 15L, Set(1, 2, 3))))
  }
}
