package graft.operators

import graft.SparkTestBase

class ExtendedOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("geo grid pairs equal the brute-force twin (recall is exactly 1)") {
    val rng = new scala.util.Random(7)
    val pts = (1 to 300).map(i =>
      (i.toLong, rng.nextInt(1000).toLong, rng.nextInt(1000).toLong))
    val got = GeoGrid.radiusPairs(
        pts.toDF("id", "x", "y"), "id", "x", "y", radius = 120L)
      .select("id_a", "id_b", "d2")
      .as[(Long, Long, Long)].collect().toSet
    val want = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= 120L * 120L
    } yield (a._1, b._1, d2)).toSet
    assert(got == want && want.nonEmpty)
  }

  test("label propagation matches the serial synchronous-majority twin") {
    val rng = new scala.util.Random(11)
    val edges = (1 to 400).map(_ =>
      (rng.nextInt(40).toLong + 1, rng.nextInt(40).toLong + 1))
      .filter(e => e._1 != e._2)
    val got = LabelProp.propagate(edges.toDF("s", "d"), "s", "d", rounds = 2)
      .as[(Long, Long)].collect().toMap
    // serial twin
    val adj = edges.flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var labels = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 2) {
      labels = adj.map { case (v, ns) =>
        val votes = ns.groupBy(labels).map { case (l, xs) => (l, xs.size) }
        v -> votes.toSeq.minBy { case (l, n) => (-n, l) }._1
      }
    }
    assert(got == labels && labels.nonEmpty)
  }

  test("bounded Bellman-Ford matches the serial relaxation twin") {
    val rng = new scala.util.Random(13)
    val edges = (1 to 300).map(_ =>
      (rng.nextInt(30).toLong + 1, rng.nextInt(30).toLong + 1,
        rng.nextInt(9).toLong + 1)).filter(e => e._1 != e._2)
    val seeds = Seq(1L, 2L)
    val got = ShortestPath.boundedBellmanFord(
        edges.toDF("s", "d", "w"), "s", "d", "w",
        seeds.toDF("n"), "n", rounds = 3)
      .as[(Long, Long)].collect().toMap
    // serial twin: collapse parallel edges to min weight, relax 3x
    val w = edges.flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
      .groupBy(e => (e._1, e._2)).map { case (k, es) => k -> es.map(_._3).min }
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val relaxed = w.toSeq.flatMap { case ((u, v), wt) =>
        dist.get(u).map(d => v -> (d + wt))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (v, ds) => v -> ds.map(_._2).min }
    }
    assert(got == dist && dist.size > seeds.size)
  }

  test("seasonal decomposition: full-window rule and exact scaled integers") {
    // 21 contiguous days with a planted weekly pattern, plus a gap day
    // far away (drops itself AND pulls no neighbors into range)
    val daily = ((0L to 20L).map(d => (d, 100L + (d % 7L) * 10L)) :+ (100L, 999L))
      .toDF("day", "n")
    val rows = Seasonal.weekly(daily, "day", "n")
      .select("day", "n", "trend_sum7", "dev7", "weekday", "seas_num",
        "seas_cnt", "resid_num")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    // edge rule: days 0-2, 18-20 and the isolated 100 are dropped
    assert(rows.map(_._1).toSet == (3L to 17L).toSet)
    rows.foreach { case (day, n, trend7, dev7, wd, sNum, sCnt, rNum) =>
      val win = (day - 3 to day + 3).map(d => 100L + (d % 7L) * 10L).sum
      assert(trend7 == win)
      assert(dev7 == 7 * n - win)
      assert(wd == day % 7)
      assert(rNum == dev7 * sCnt - sNum)
    }
    // the planted series is exactly weekly, so each weekday's deviation
    // is constant across its occurrences: residual must be exactly 0
    assert(rows.forall(_._8 == 0L))
  }

  test("greedy coverage matches the serial greedy twin, ties to smallest id") {
    val rng = new scala.util.Random(23)
    val members = (1 to 30).flatMap(id =>
      (1 to 20).map(_ => (id.toLong, rng.nextInt(60).toLong))).distinct
    val got = Coverage.greedySelect(members.toDF("id", "el"), "id", "el", rounds = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // serial twin
    var covered = Set.empty[Long]
    val sets = members.groupBy(_._1).map { case (id, m) => id -> m.map(_._2).toSet }
    var picked = Set.empty[Long]
    val want = (1 to 4).flatMap { r =>
      val cands = sets.view.filterKeys(!picked(_))
        .mapValues(s => (s -- covered).size).toSeq
        .filter(_._2 > 0)
      if (cands.isEmpty) None
      else {
        val (id, gain) = cands.minBy { case (i, g) => (-g, i) }
        picked += id
        covered = covered ++ sets(id)
        Some((r.toLong, id, gain.toLong, covered.size.toLong))
      }
    }
    assert(got == want)
  }

  test("FD audit: a holding FD reports zero violations, a broken one doesn't") {
    val df = Seq(
      (1L, "a", "x"), (1L, "a", "x"), (2L, "b", "x"),
      (2L, "b", "y"), (3L, "c", "y")).toDF("k", "good", "bad")
    val hold = FdAudit.audit(df, "k->good", "k", "good")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(hold == (("k->good", 3L, 0L, 1L, 0L)))
    val broken = FdAudit.audit(df, "k->bad", "k", "bad")
      .as[(String, Long, Long, Long, Long)].collect().head
    // key 2 has 2 distinct bad values over 2 rows of 5 total
    assert(broken == (("k->bad", 3L, 1L, 2L, 2L * 1000000L / 5L)))
  }

  test("HITS scores match the serial unnormalized iteration") {
    val rng = new scala.util.Random(29)
    val edges = (1 to 200).map(_ =>
      (rng.nextInt(15).toLong + 1, rng.nextInt(15).toLong + 101)).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    // 5 rounds truncates the hub frame twice (rounds 2 and 4), so the
    // second truncation releases the first checkpoint
    for (rounds <- Seq(2, 5)) {
      val got = Hits.scores(edges.toDF("s", "d"), "s", "d", rounds = rounds)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      var h = nodes.map(_ -> 1L).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to rounds) {
        a = nodes.map(v => v -> edges.filter(_._2 == v).map(e => h(e._1)).sum).toMap
        h = nodes.map(u => u -> edges.filter(_._1 == u).map(e => a(e._2)).sum).toMap
      }
      assert(got == nodes.map(v => v -> ((h(v), a(v)))).toMap && nodes.nonEmpty,
        s"rounds=$rounds")
    }
  }

  test("reciprocal best match returns exactly the mutual-argmax pairs") {
    val rng = new scala.util.Random(31)
    val edges = (1 to 150).map(_ =>
      (rng.nextInt(20).toLong + 1, rng.nextInt(20).toLong + 1,
        rng.nextInt(50).toLong + 1)).filter(e => e._1 != e._2)
    val got = BestMatch.reciprocal(edges.toDF("s", "d", "w"), "s", "d", "w")
      .as[(Long, Long, Long)].collect().toSet
    val sym = edges.flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
      .groupBy(e => (e._1, e._2)).map { case ((u, v), es) => (u, v, es.map(_._3).max) }
    val best = sym.groupBy(_._1).map { case (u, es) =>
      u -> es.minBy(e => (-e._3, e._2))
    }
    val want = best.values.filter { case (u, v, w) =>
      u < v && best.get(v).exists(b => b._2 == u)
    }.map(e => (e._1, e._2, e._3)).toSet
    assert(got == want && want.nonEmpty)
  }

  test("sliding chunks: round-trip identity at every boundary length") {
    import graft.text.Chunker
    val rng = new scala.util.Random(37)
    // lengths straddling the size/stride boundaries: 0, 1, size-1,
    // size, size+1, size+stride, and a few long randoms
    val lens = Seq(0, 1, 63, 64, 65, 112, 113, 200, 500) ++
      (1 to 5).map(_ => rng.nextInt(1000))
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, rng.alphanumeric.take(n).mkString)
    }
    val chunks = Chunker.slidingChunk(docs.toDF("id", "text"), "id", "text",
      size = 64, stride = 48)
    val got = Chunker.reassembleOverlapping(chunks, "id", "chunk_ix", "chunk",
        size = 64, stride = 48)
      .as[(Long, String)].collect().toMap
    assert(got == docs.toMap)
    // chunk count matches the closed form the q180 oracle pins
    val counts = chunks.groupBy($"id").count().as[(Long, Long)].collect().toMap
    docs.foreach { case (id, t) =>
      val want = 1L + (math.max(t.length - 64, 0) + 47) / 48
      assert(counts(id) == want, s"id=$id len=${t.length}")
    }
  }

  test("KS two-sample matches the serial cross-multiplied statistic") {
    val rng = new scala.util.Random(17)
    val xs = (1 to 500).map(_ => ("a", rng.nextInt(50).toLong)) ++
      (1 to 400).map(_ => ("b", rng.nextInt(50).toLong + 10L))
    val row = KsTest.twoSample(xs.toDF("g", "v"), "g", "v", "a", "b")
      .as[(Long, Long, Long, Long, Long)].collect().head
    val (na, nb) = (500L, 400L)
    val support = xs.map(_._2).distinct.sorted
    val gaps = support.map { v =>
      val ca = xs.count(x => x._1 == "a" && x._2 <= v).toLong
      val cb = xs.count(x => x._1 == "b" && x._2 <= v).toLong
      (math.abs(ca * nb - cb * na), v)
    }
    val dNum = gaps.map(_._1).max
    val atV = gaps.filter(_._1 == dNum).map(_._2).min
    assert(row == ((na, nb, dNum, atV, dNum * 1000000L / (na * nb))))
  }
}
