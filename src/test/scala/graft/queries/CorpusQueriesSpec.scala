package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.PageRank

class CorpusQueriesSpec extends SparkTestBase {
  import spark.implicits._

  test("oracle map covers every corpus query") {
    assert(CorpusQueries.all.keySet == CorpusQueries.oracle.keySet)
  }

  for ((name, fn) <- CorpusQueries.all.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows on sf0.001") {
      assert(fn(spark, sfSmoke).count() > 0, s"$name returned no rows")
    }
  }

  test("weightedRanks replays the hand-computed 3-node recurrence") {
    // edges 1→2 (w=3), 1→3 (w=1); scale 1000, damp 1/2, 1 iteration:
    //   N=3, r0=333, base=(2-1)*333/2=166, W(1)=4
    //   shares: 1→2 = 333*3/4 = 249 ; 1→3 = 333/4 = 83
    //   dangling (2,3): 666 → div N = 222
    //   r(1)=166+(0+222)/2=277 ; r(2)=166+(249+222)/2=401
    //   r(3)=166+(83+222)/2=318
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("s", "d", "w")
    val got = PageRank.ranks(e, "s", "d", iterations = 1, weightCol = Some("w"),
        dampNum = 1L, dampDen = 2L, scale = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 277L, 2L -> 401L, 3L -> 318L))
  }

  test("weightedRanks with uniform weights equals unweighted ranks") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val uw = PageRank.ranks(e, "s", "d", iterations = 3)
      .as[(Long, Long)].collect().toMap
    val w = PageRank.ranks(e.withColumn("w", lit(7L)), "s", "d",
        iterations = 3, weightCol = Some("w")).as[(Long, Long)].collect().toMap
    // floor(7r / 7deg) = floor(r / deg) exactly, so uniform weights
    // must reproduce the unweighted ranks on any graph
    assert(uw == w)
  }

  test("weightedPersonalizedRanks with uniform weights equals personalizedRanks") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L)).toDF("s", "d")
    val seeds = Some(Seq(1L, 3L).toDF("n"))
    val p = PageRank.ranks(e, "s", "d", iterations = 3, seeds = seeds)
      .as[(Long, Long)].collect().toMap
    val wp = PageRank.ranks(e.withColumn("w", lit(5L)), "s", "d",
        iterations = 3, weightCol = Some("w"), seeds = seeds)
      .as[(Long, Long)].collect().toMap
    assert(p == wp && p.nonEmpty)
  }

  test("personalizedRanks: nodes unreachable from the seeds stay at 0") {
    // 1 -> 2 -> 3, isolated pair 4 -> 5; seed = {1}
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("s", "d")
    val ranks = PageRank.ranks(e, "s", "d", iterations = 3,
        seeds = Some(Seq(1L).toDF("n")))
      .as[(Long, Long)].collect().toMap
    assert(ranks(4L) == 0L && ranks(5L) == 0L)
    assert(ranks(1L) > 0L && ranks(2L) > 0L && ranks(3L) > 0L)
  }

  test("personalizedRanks: replays the hand-computed 2-node recurrence") {
    // 1 -> 2, seed {1}, scale 1000, damp 1/2:
    //   r0(1)=1000, base(1) = (2-1)*1000/2 = 500
    // it1: share 1->2 = 1000; dang = r(2) = 0
    //   r(1) = 500 + (1*(0+0))/2 = 500 ; r(2) = 0 + (1*1000)/2 = 500
    // it2: share 1->2 = 500; dang = r(2) = 500 -> returns to the seed
    //   r(1) = 500 + (1*(0+500))/2 = 750 ; r(2) = (1*500)/2 = 250
    val e = Seq((1L, 2L)).toDF("s", "d")
    val ranks = PageRank.ranks(e, "s", "d", iterations = 2,
        seeds = Some(Seq(1L).toDF("n")),
        dampNum = 1L, dampDen = 2L, scale = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(ranks == Map(1L -> 750L, 2L -> 250L))
  }

  test("personalizedRanks rejects a seed set disjoint from the graph") {
    val e = Seq((1L, 2L)).toDF("s", "d")
    val err = intercept[IllegalArgumentException] {
      PageRank.ranks(e, "s", "d", 1, seeds = Some(Seq(9L).toDF("n")))
    }
    assert(err.getMessage.contains("seed set must intersect the graph's node set"))
  }

  test("q216 interleave emits 3 weight-3 docs per weight-1 doc") {
    // first positions: en rk 1,2,3 have keys 333,666,1000; others rk 1
    // have key 1000 — the curriculum front-loads the heavy language
    val head = CorpusQueries.q216CurriculumInterleave(spark, sfSmoke)
      .filter($"seq" <= 10L).select($"lang", $"pos_key")
      .as[(String, Long)].collect().toList
    assert(head.take(2).map(_._1) == List("en", "en"))
    assert(head.count(_._1 == "en") >= 3)
  }

  test("GIF writer/reader round-trip: every frame, exact dims, real bytes") {
    import graft.multimodal.Multimodal
    val bytes = Multimodal.syntheticGif(40, 30, 5)
    assert(new String(bytes.take(6), "US-ASCII").startsWith("GIF8"))
    val frames = Multimodal.decodeFrames(bytes)
    assert(frames == (0 until 5).map(i => (i, 40, 30)))
    // unrecognized payloads decode to no frames, not a crash
    assert(Multimodal.decodeFrames("not a gif".getBytes).isEmpty)
    assert(Multimodal.decodeFrames(null).isEmpty)
  }

  test("sampleRealFrames keeps every stride-th frame with the true frame count") {
    import graft.multimodal.Multimodal
    val media = Seq((7L, Multimodal.syntheticGif(16, 16, 6))).toDF("media_id", "content")
    val got = Multimodal.sampleRealFrames(media, stride = 3)
      .select($"frame_idx", $"n_frames").as[(Long, Long)].collect().toList.sorted
    assert(got == List((0L, 6L), (3L, 6L)))
  }

  test("q219 negatives are non-edges, non-self, at most 2 per node") {
    val li = graft.sources.Tables.lineitem(spark, sfSmoke)
      .select($"l_orderkey", $"l_partkey")
    val edges = li.as("x").join(li.as("y"), $"x.l_orderkey" === $"y.l_orderkey")
      .filter($"x.l_partkey" < $"y.l_partkey")
      .select($"x.l_partkey".as("a"), $"y.l_partkey".as("b"))
      .distinct().as[(Long, Long)].collect().toSet
    val negs = CorpusQueries.q219NegativeEdges(spark, sfSmoke)
      .as[(Long, Long, Long)].collect().toList
    assert(negs.nonEmpty)
    negs.foreach { case (u, slot, v) =>
      assert(u != v, s"self-negative $u")
      assert(slot >= 1L && slot <= 2L)
      assert(!edges.contains((math.min(u, v), math.max(u, v))),
        s"($u,$v) is a true edge")
    }
    negs.groupBy(_._1).foreach { case (u, xs) =>
      assert(xs.map(_._2).sorted == (1L to xs.length).toList, s"slots of $u")
    }
  }

  test("q225 span masking matches a brute-force local replay") {
    val docs = graft.sources.Tables.documents(spark, sfSmoke)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = CorpusQueries.q225SpanCorruption(spark, sfSmoke)
      .as[(Long, Long, Long, Long, String)].collect().toList
    assert(got.size == docs.size)
    got.foreach { case (id, nTok, nMask, nSpan, md5) =>
      val toks = docs(id).trim.split("\\s+")
      def hit(i: Int) = (id * 31 + i / 3) % 5 == 0
      assert(nTok == toks.length.toLong)
      assert(nMask == toks.indices.count(hit).toLong)
      assert(nSpan == toks.indices.count(i => hit(i) && i % 3 == 0).toLong)
      val masked = toks.indices.flatMap { i =>
        if (hit(i)) { if (i % 3 == 0) Some("<X>") else None } else Some(toks(i))
      }.mkString(" ")
      val want = java.security.MessageDigest.getInstance("MD5")
        .digest(masked.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(md5 == want, s"masked md5 of doc $id")
    }
    // masking actually fires somewhere
    assert(got.map(_._3).sum > 0)
  }

  test("q238 augmentation matches a brute-force local replay") {
    val docs = graft.sources.Tables.documents(spark, sfSmoke)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = CorpusQueries.q238Augment(spark, sfSmoke)
      .as[(Long, Long, Long, Long, String)].collect().toList
    assert(got.size == docs.size)
    var anySwap = false
    got.foreach { case (id, nTok, nDrop, nSwap, md5) =>
      val toks = docs(id).trim.split("\\s+")
      val kept = toks.indices.filter(i => (id * 17 + i) % 10 != 0).map(toks)
      val swapped = kept.indices.map { i =>
        if ((id * 23 + i / 2) % 7 == 0) {
          if (i % 2 == 0) { if (i + 1 < kept.length) kept(i + 1) else kept(i) }
          else kept(i - 1)
        } else kept(i)
      }
      assert(nTok == toks.length.toLong && nDrop == (toks.length - kept.length).toLong)
      val wantSwaps = kept.indices.count(i =>
        (id * 23 + i / 2) % 7 == 0 && i % 2 == 0 && i + 1 < kept.length)
      assert(nSwap == wantSwaps.toLong)
      anySwap ||= wantSwaps > 0
      val want = java.security.MessageDigest.getInstance("MD5")
        .digest(swapped.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(md5 == want, s"augmented md5 of doc $id")
    }
    assert(anySwap && got.map(_._3).sum > 0)
  }

  test("q214 pair counts match a brute-force local recount") {
    val docs = graft.sources.Tables.documents(spark, sfSmoke)
      .select($"text").as[String].collect()
    val brute = docs.flatMap(_.trim.split("\\s+")).filter(_.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val top = CorpusQueries.q214BpePairs(spark, sfSmoke)
      .as[(String, Long)].collect().toList
    top.foreach { case (p, n) => assert(brute(p) == n, s"pair $p") }
    assert(top.map(_._2) == top.map(_._2).sorted.reverse)
  }
}
