package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Admission.nonKeepers]], the near-dup stores' within-batch keeper
  * step, against the rule it stands in for: its ids are exactly the rows
  * `Graft.clusterDedup` marks `kept = false`, on the driver union-find
  * path (default cap) and on the distributed fallback (cap 0). */
class NonKeepersSpec extends SparkTestBase {

  test("nonKeepers equals clusterDedup's non-kept rows on seeded random pair graphs, " +
      "under the default cap and on the cap-0 fallback") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(15)
    def chain(from: Long, n: Int): Seq[(Long, Long)] =
      (from until from + n).sliding(2).map(p => (p(1), p(0))).toSeq
    def star(hub: Long, leaves: Seq[Long]): Seq[(Long, Long)] = leaves.map(l => (l, hub))
    def clique(ids: Seq[Long]): Seq[(Long, Long)] =
      for (i <- ids; j <- ids if i < j) yield (i, j)
    val graphs = Seq.tabulate(6) { g =>
      val base = 1000L * g
      val edges = chain(base + rnd.nextInt(20), 5 + rnd.nextInt(15)) ++
        // a star whose hub is not its min id: the keeper is a leaf
        star(base + 300 + rnd.nextInt(10), Seq.fill(6)(base + 200 + rnd.nextInt(100).toLong)) ++
        clique(Seq.fill(5)(base + 500 + rnd.nextInt(40).toLong).distinct) ++
        Seq.fill(10)((base + 600 + rnd.nextInt(80).toLong, base + 600 + rnd.nextInt(80).toLong))
          .filter(p => p._1 != p._2)
      // duplicate pair rows, in both orientations
      val dupes = rnd.shuffle(edges).take(4)
      rnd.shuffle(edges ++ dupes ++ dupes.map(_.swap))
    } :+ Seq.empty[(Long, Long)]
    graphs.zipWithIndex.foreach { case (edges, g) =>
      val pairs = edges.toDF("a", "b").repartition(3)
      // isolated nodes: ids in the frame that no pair touches
      val nodes = (edges.flatMap(p => Seq(p._1, p._2)) ++
        Seq.fill(8)(1000L * g + 900 + rnd.nextInt(50))).distinct
      val ids = nodes.toDF("doc_id")
      val expected = graft.api.Graft.clusterDedup(ids, "doc_id", pairs, "a", "b")
        .filter(!col("kept")).collect().map(_.getLong(0)).toSet
      if (edges.nonEmpty) assert(expected.nonEmpty, s"graph $g has no non-keeper")
      for (cap <- Seq(graft.api.Graft.LocalEdgeCap, 0)) {
        val got = Admission.nonKeepers(ids, "doc_id", pairs, "a", "b", cap)
        assert(got === expected, s"graph $g, cap $cap")
      }
    }
  }
}
