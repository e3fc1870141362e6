package graft

import org.apache.spark.sql.functions._

import graft.ann.CosineLsh
import graft.core.{CollectionConfig, Metric}
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.prepare.Prepare
import graft.store.CollectionStore
import graft.streaming.EventStreams
import graft.text.TextAnalysis

/** Dedup / text / LSH / store / multimodal / streaming behavior. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sfDir = "/root/testdata/sf0.001"

  test("LSH ANN: overlap@10 vs exact flat on real embeddings") {
    val d = Tables.dims(spark, sfDir)
    val config = Tables.cosineConfig(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config).cache()
    val lsh = CosineLsh.LshConfig(bands = 24, bitsPerBand = 6)
    val overlaps = (0L until 5L).map { q =>
      CosineLsh.overlapAtK(coll, config, lsh, Tables.queryVector(spark, sfDir, q), 10)
    }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.5, s"mean overlap@10 $mean too low: $overlaps")
    // candidate set must actually prune (be a strict subset of the scan)
    val q0 = Search0.prepared(coll, config, Tables.queryVector(spark, sfDir, 0L))
    val nCands = CosineLsh.withSignatures(coll, lsh)
      .filter(arrays_overlap(col("lsh_bands"),
        typedlit(CosineLsh.bandKeys(q0, lsh)))).count()
    assert(nCands < coll.count(), s"LSH did not prune ($nCands)")
    coll.unpersist()
  }

  test("LSH determinism: same plan on different frames, same signatures") {
    val v = Array.fill(16)(0.25f)
    val cfg = CosineLsh.LshConfig(bands = 4, bitsPerBand = 8, seed = 7L)
    assert(CosineLsh.bandKeys(v, cfg).toSeq === CosineLsh.bandKeys(v.clone(), cfg).toSeq)
    // band keys are namespaced: never collide across bands
    val keys = CosineLsh.bandKeys(v, cfg)
    assert(keys.map(_ >> 8).toSeq === (0 until 4))
  }

  test("multi-probe LSH: probe set nests by probeBits and equals the Hamming-<=2 ball at full probeBits") {
    val v = Array.tabulate(32)(i => ((i * 7 % 13) - 6) / 6.0f)
    def cfg(pb: Int) = CosineLsh.LshConfig(bands = 4, bitsPerBand = 6,
      seed = 11L, probeBits = pb, probeOrder = 2)
    val base = CosineLsh.bandKeys(v, cfg(0))
    // probeBits=0 degenerates to exact-key probing
    assert(CosineLsh.probeKeys(v, cfg(0)).toSeq === base.toSeq)
    // monotone: fewer probed bits => subset of more probed bits
    val p2 = CosineLsh.probeKeys(v, cfg(2)).toSet
    val p4 = CosineLsh.probeKeys(v, cfg(4)).toSet
    val p6 = CosineLsh.probeKeys(v, cfg(6)).toSet
    assert(base.toSet.subsetOf(p2) && p2.subsetOf(p4) && p4.subsetOf(p6))
    // full probeBits + order 2 == every key within Hamming distance 2,
    // in the same band (the ball the SQL oracle enumerates)
    val ball = base.flatMap { k =>
      val band = k >> 6; val sig = k & 63
      (0 until 64).filter(s => Integer.bitCount(s ^ sig) <= 2).map(s => (band << 6) | s)
    }.toSet
    assert(p6 === ball)
    // probe count: bands * (1 + probeBits + C(probeBits, 2)) when sigs distinct
    assert(p4.size <= 4 * (1 + 4 + 6))
  }

  test("multi-probe LSH recall dominates single-probe at the same index (planted near-neighbor)") {
    val d = Tables.dims(spark, sfDir)
    val config = Tables.cosineConfig(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config).cache()
    val single = CosineLsh.LshConfig(bands = 24, bitsPerBand = 6, probeBits = 0)
    val multi = CosineLsh.LshConfig(bands = 24, bitsPerBand = 6, probeBits = 6, probeOrder = 2)
    val ovs = (0L until 5L).map { i =>
      val q = Tables.queryVector(spark, sfDir, i)
      (CosineLsh.overlapAtK(coll, config, single, q, 10),
        CosineLsh.overlapAtK(coll, config, multi, q, 10))
    }
    // same stored signatures, wider query probes: recall can only grow
    ovs.foreach { case (s, m) => assert(m >= s, s"multi $m < single $s") }
    assert(ovs.map(_._2).sum / 5 >= ovs.map(_._1).sum / 5)
    coll.unpersist()
  }

  test("exact dedup marks copies, keeps canonical (min id)") {
    val df = Seq(
      ("a", "same text here"), ("b", "same text here"), ("c", "unique text")
    ).toDF("id", "text")
    val out = Dedup.exactDuplicates(df, "id", col("text"))
      .select("id", "canonical_id", "is_dup").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(out === Set(("a", "a", false), ("b", "a", true), ("c", "c", false)))
  }

  test("line dedup across corpus: first (id,pos) wins, blanks stay, full dup empties") {
    val df = Seq(
      ("p1", "menu\nbody one\n\nfooter"),
      ("p2", "menu\nbody two\n\nfooter"),
      ("p3", "menu\nfooter"),            // fully boilerplate
      ("p4", "repeat\nrepeat\nsolo"),    // within-doc dup also collapses
      ("p5", "no newline here")
    ).toDF("id", "text")
    val out = Dedup.dropDuplicateLinesAcross(df, "id", "text")
      .select("id", "text_deduped", "n_lines_kept").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out("p1") === (("menu\nbody one\n\nfooter", 4L)))
    assert(out("p2") === (("body two\n", 2L)))   // keeps body + blank
    assert(out("p3") === (("", 0L)))             // every line owned earlier
    assert(out("p4") === (("repeat\nsolo", 2L))) // second 'repeat' dropped
    assert(out("p5") === (("no newline here", 1L)))
    // minChars guard: short lines below the threshold are never deduped
    val guarded = Dedup.dropDuplicateLinesAcross(df, "id", "text", minChars = 10)
      .filter(col("id") === "p3").select("text_deduped").head.getString(0)
    assert(guarded === "menu\nfooter") // both lines under 10 chars -> kept
  }

  test("minhash LSH finds near-duplicates, skips dissimilar") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base + " tailtoken"
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val df = Seq(("d1", base), ("d2", near), ("d3", other)).toDF("id", "text")
    val pairs = Dedup.minhashVerifiedPairs(df, "id", col("text"), 3, 8, 4, 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSeq === Seq(("d1", "d2")))
  }

  test("batch-vs-corpus dedup: matches are asymmetric, novelty cut keeps new docs only") {
    val corpus = Seq(
      ("c1", (1 to 40).map(i => s"tok$i").mkString(" ")),
      ("c2", (100 to 140).map(i => s"tok$i").mkString(" ")),
      // corpus-internal duplicates must NOT appear in the output
      ("c3", (1 to 40).map(i => s"tok$i").mkString(" "))
    ).toDF("id", "text")
    val batch = Seq(
      ("b1", (1 to 40).map(i => s"tok$i").mkString(" ")),      // exact copy of c1/c3
      ("b2", (100 to 140).map(i => s"tok$i").mkString(" ") + " tail"), // near c2
      ("b3", (500 to 540).map(i => s"tok$i").mkString(" ")),   // novel
      ("b4", (500 to 540).map(i => s"tok$i").mkString(" "))    // batch-internal dup of b3: still novel
    ).toDF("id", "text")
    val matches = Dedup.minhashMatchesAgainst(corpus, batch, "id", col("text"),
      k = 3, numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(matches === Set(("b1", "c1"), ("b1", "c3"), ("b2", "c2")))
    val novel = Dedup.dropNearAgainst(corpus, batch, "id", col("text"),
      k = 3, numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(_.getString(0)).toSet
    assert(novel === Set("b3", "b4"))
    // exact variant: only byte-identical keys match
    val exactNovel = Dedup.dropExactAgainst(corpus, batch, col("text"))
      .collect().map(_.getString(0)).toSet
    assert(exactNovel === Set("b2", "b3", "b4"))
    assert(Dedup.exactMatchesAgainst(corpus, batch, col("text"))
      .collect().map(_.getString(0)).toSet === Set("b1"))
    // simhash variant: identical texts at hamming 0, disjoint texts
    // never match; asymmetric like the others
    val sim = Dedup.simhashMatchesAgainst(corpus, batch, "id", col("text"),
      maxHamming = 6).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(sim.filter(_._3 == 0).map(t => (t._1, t._2)).toSet
      === Set(("b1", "c1"), ("b1", "c3")))
    assert(!sim.exists(t => t._1 == "b3" || t._1 == "b4"))
    assert(Dedup.dropSimhashAgainst(corpus, batch, "id", col("text"),
      maxHamming = 0).collect().map(_.getString(0)).toSet
      === Set("b2", "b3", "b4"))
  }

  test("fast-hash minhash: planted near-dups found, verified pairs == the md5 spec path") {
    // 40 base docs of 40 pseudo-random tokens + 15 one-extra-token
    // near-copies (jaccard ~0.9); non-planted pairs share almost no
    // 3-shingles, so the EXACT verify admits only the planted pairs —
    // both hash families must land on the same verified set, and the
    // fast path must catch every planted pair as a candidate
    val base = (0 until 40).map(i =>
      (i.toLong, (0 until 40).map(w => s"tok${(i * 7 + w * 13) % 97}x$w").mkString(" ")))
    val planted = (0 until 15).map(i => (100L + i, base(i)._2 + " zzextra"))
    val corpus = (base ++ planted).toDF("id", "text")
    def pairs(fast: Boolean) = Dedup.minhashVerifiedPairs(corpus, "id",
      col("text"), k = 3, numHashes = 8, bands = 4, threshold = 0.5,
      fastHash = fast).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = pairs(fast = true)
    for (i <- 0 until 15)
      assert(fast.contains((i.toLong, 100L + i)), s"planted pair $i missed")
    assert(fast === pairs(fast = false))
    // end-to-end: fast near-dup drop keeps originals, drops the copies
    val kept = Dedup.dropNearDuplicates(corpus, "id", col("text"),
      k = 3, numHashes = 8, bands = 4, threshold = 0.5, fastHash = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert((0 until 40).forall(i => kept.contains(i.toLong)))
    assert((0 until 15).forall(i => !kept.contains(100L + i)))
  }

  test("simhash: identical texts collide, hamming grows with distance") {
    val t = "alpha beta gamma delta epsilon"
    assert(TextAnalysis.simhash64Scala(t.split(" ").toSeq) ===
      TextAnalysis.simhash64Scala(t.split(" ").toSeq))
    // single-token simhash == first 64 bits of the token's md5 (each bit
    // gets exactly one +1/-1 vote) — an independent oracle
    val tok = "hello"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8"))
    val expected = java.nio.ByteBuffer.wrap(md5.take(8)).getLong
    assert(TextAnalysis.simhash64Scala(Seq(tok)) === expected)
  }

  test("simhash64 codegen expression == udf-era scala loop over tokens") {
    import spark.implicits._
    // mixed shapes: multi-token, single, repeated-token weighting, empty
    // string (one empty token, like split(trim(''))), leading/multi
    // whitespace, unicode; null text -> null hash
    val texts = Seq("alpha beta gamma delta", "hello", "a a a b", "",
      "  spaced   out\ttabs", "café naïve 中文")
    val got = texts.toDF("text")
      .select(TextAnalysis.simhash64(col("text"))).collect().map(_.getLong(0))
    def trimSp(s: String) =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val want = texts.map(t => TextAnalysis.simhash64Scala(
      java.util.regex.Pattern.compile("\\s+").split(trimSp(t), -1).toSeq))
    assert(got.toSeq === want)
    val n = Seq[Option[String]](None).toDF("text")
      .select(TextAnalysis.simhash64(col("text"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("simhash pairs on near-dup corpus") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val df = Seq(("d1", base), ("d2", base + " x"), ("d3", "totally different words entirely"))
      .toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", col("text"), maxHamming = 6)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.contains(("d1", "d2")))
    assert(!pairs.exists(p => p._1 == "d3" || p._2 == "d3"))
  }

  test("hot-band guard: a 10k-member mega-band is skipped, planted near-dups survive") {
    // 10,001 copies of the same boilerplate share every minhash band —
    // unguarded, that one band alone emits ~50M candidate pairs. The
    // guard must drop it while still pairing the planted near-dups.
    val boiler = "copyright footer all rights reserved contact us terms of service"
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val rows = (0 until 10001).map(i => (f"b$i%05d", boiler)) ++
      Seq(("d1", base), ("d2", base + " tailtoken"),
        ("d3", (100 to 140).map(i => s"tok$i").mkString(" ")))
    val df = rows.toDF("id", "text").repartition(8)
    val pairs = Dedup.minhashCandidatePairs(df, "id", col("text"), 3, 8, 4)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSeq.contains(("d1", "d2")))
    // nothing from the mega-band: its pairs would be b*-b* combinations
    assert(!pairs.exists(p => p._1.startsWith("b") && p._2.startsWith("b")))
    // the audit reports the skipped bands with their true member count
    val hot = Dedup.minhashHotBands(df, "id", col("text"), 3, 8, 4)
      .collect().map(_.getLong(1))
    assert(hot.nonEmpty && hot.forall(_ === 10001L))
    // cap <= 0 disables the guard (small corpus: identical results)
    val small = rows.takeRight(3).toDF("id", "text")
    val guarded = Dedup.minhashCandidatePairs(small, "id", col("text"), 3, 8, 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val unguarded = Dedup.minhashCandidatePairs(small, "id", col("text"), 3, 8, 4,
      maxBandSize = 0).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(guarded === unguarded)
    // embedding variant: a zero-vector bucket over the cap is skipped,
    // real near-dup embeddings still verify (shared guard, small cap)
    val zeros = (0 until 100).map(i => (f"z$i%03d", Array.fill(8)(0f)))
    val nears = Seq(("e1", Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      ("e2", Array(0.99f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f)))
    val edf = (zeros ++ nears).toDF("id", "vector")
    val epairs = Dedup.embeddingPairs(edf, "id", "vector",
      CosineLsh.LshConfig(bands = 4, bitsPerBand = 6), threshold = 0.9,
      maxBandSize = 50).collect().map(r => (r.getString(0), r.getString(1)))
    assert(epairs.toSeq === Seq(("e1", "e2")))
    val ehot = Dedup.embeddingHotBands(edf, "id", "vector",
      CosineLsh.LshConfig(bands = 4, bitsPerBand = 6), maxBandSize = 50)
      .collect()
    assert(ehot.nonEmpty)
    // simhash variant: identical boilerplate texts over the cap skipped
    val sdf = ((0 until 60).map(i => (f"s$i%02d", boiler)) ++
      Seq(("t1", base), ("t2", base + " x"))).toDF("id", "text")
    val spairs = Dedup.simhashPairs(sdf, "id", col("text"), maxHamming = 6,
      maxBandSize = 50).collect().map(r => (r.getString(0), r.getString(1)))
    assert(spairs.contains(("t1", "t2")))
    assert(!spairs.exists(p => p._1.startsWith("s") && p._2.startsWith("s")))
  }

  test("shared-span dedup: footer stripped everywhere, unique text intact, full dup erased") {
    val footer = "f1 f2 f3 f4 f5 f6 f7 f8"
    val docs = Seq(
      ("a", s"alpha beta gamma delta $footer"),
      ("b", s"eps zeta eta theta $footer"),
      ("c", "totally unique words never repeated anywhere at all"),
      ("d", "copy of this exact document text right here ok"),
      ("e", "copy of this exact document text right here ok")
    ).toDF("id", "text")
    val out = Dedup.dropSharedSpans(docs, "id", col("text"), spanTokens = 5)
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getInt(2), r.getString(4))).toMap
    // footer windows are shared by a and b -> all 8 footer tokens go;
    // the 4-token unique prefixes survive (no 5-window fits inside them)
    assert(out("a") === ((12, 4, "alpha beta gamma delta")))
    assert(out("b") === ((12, 4, "eps zeta eta theta")))
    // unique doc untouched
    assert(out("c")._1 === out("c")._2)
    // full duplicates: every window shared -> stripped to nothing
    assert(out("d")._2 === 0 && out("e")._2 === 0)
  }

  test("interval join: inclusive band, bin straddle, no duplicates, key isolation") {
    // Long ts = raw nanos (the documented legacy contract)
    val left = Seq(("u", "a", 0L), ("u", "b", 950L), ("w", "c", 0L))
      .toDF("user_id", "id", "ts")
    val right = Seq(
      ("u", "x", 10L),   // a+10: inside
      ("u", "y", 100L),  // a+100: inclusive upper edge; straddles a's bin
      ("u", "z", 101L),  // a+101: out for a
      ("v", "q", 10L))   // other key: never pairs
      .toDF("user_id", "id", "ts")
    val out = EventStreams.intervalJoin(left, right, "user_id", "ts",
      lowerNs = 0L, upperNs = 100L)
      .select("l_id", "r_id", "delta_ns").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val pairs = out.toSet
    assert(pairs === Set(("a", "x", 10L), ("a", "y", 100L)))
    assert(out.length === pairs.size) // straddled bins never duplicate a pair
    // lower bound is inclusive too: [10, 10] picks exactly delta 10
    val tight = EventStreams.intervalJoin(left, right, "user_id", "ts", 10L, 10L)
      .select("l_id", "r_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(tight.toSeq === Seq(("a", "x")))
  }

  test("funnel: strict order, anchored horizon, greedy-earliest, summary counts") {
    // Long ts = raw nanos; horizon 1s = 1e9 ns anchored at the first view
    val ms = 1000000L
    val sec = 1000000000L
    val ev = Seq(
      // u1: out-of-order noise never counts; greedy picks earliest valid chain
      (1L, "click", 5L * ms), (1L, "view", 10L * ms), (1L, "click", 20L * ms),
      (1L, "purchase", 15L * ms), (1L, "purchase", 30L * ms),
      // u2: equal-ts step is NOT strictly after -> depth 1
      (2L, "view", 10L * ms), (2L, "click", 10L * ms), (2L, "purchase", 50L * ms),
      // u3: no step-1 event -> absent entirely
      (3L, "click", 5L * ms), (3L, "purchase", 10L * ms),
      // u4: click outside the FIRST view's horizon; a later view does
      // not re-anchor -> depth 1
      (4L, "view", 0L), (4L, "view", 3L * sec / 2), (4L, "click", 2L * sec),
      // u5: full conversion inside the horizon
      (5L, "view", 100L * ms), (5L, "click", 101L * ms), (5L, "purchase", 102L * ms))
      .toDF("user_id", "event_type", "ts")
    val steps = Seq("view", "click", "purchase")
    val out = EventStreams.funnelSteps(ev, steps, horizonSeconds = 1L)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4)))).toMap
    assert(out.keySet === Set(1L, 2L, 4L, 5L))
    assert(out(1L) === ((Some(10000L), Some(20000L), Some(30000L), 3)))
    assert(out(2L) === ((Some(10000L), None, None, 1)))
    assert(out(4L) === ((Some(0L), None, None, 1)))
    assert(out(5L) === ((Some(100000L), Some(101000L), Some(102000L), 3)))
    val summary = EventStreams.funnelSummary(
      EventStreams.funnelSteps(ev, steps, horizonSeconds = 1L), steps)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(summary === Seq((1, "view", 4L), (2, "click", 2L), (3, "purchase", 2L)))
  }

  test("funnel: microsecond-resolution chain matches the oracle recurrence") {
    val ms = 1000000L // ns per ms
    val ev = Seq(
      (1L, "view", 10L * ms), (1L, "click", 20L * ms), (1L, "purchase", 30L * ms),
      (2L, "view", 10L * ms), (2L, "purchase", 15L * ms), (2L, "click", 20L * ms),
      (2L, "purchase", 25L * ms))
      .toDF("user_id", "event_type", "ts")
    val out = EventStreams.funnelSteps(ev, Seq("view", "click", "purchase"), 3600L)
      .collect().map(r => r.getLong(0) ->
        ((r.get(1), r.get(2), r.get(3), r.getInt(4)))).toMap
    assert(out(1L) === ((10000L, 20000L, 30000L, 3)))
    // u2's purchase@15ms precedes the click -> only the 25ms one counts
    assert(out(2L) === ((10000L, 20000L, 25000L, 3)))
  }

  test("rolling z-score: prior frame excludes self, constant-window guard, spike flagged") {
    import graft.streaming.EventStreams
    val ms = 1000000L
    val ev = Seq(
      (1L, 1L, 1L * ms, 10.0), (2L, 1L, 2L * ms, 10.0), (3L, 1L, 3L * ms, 10.0),
      (4L, 1L, 4L * ms, 100.0), // spike vs constant history -> null z (std 0) but mean shows it
      (5L, 1L, 5L * ms, 14.0),  // prior {10,10,10,100}: mean 32.5, std ~38.97
      (6L, 2L, 1L * ms, 5.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = EventStreams.rollingZScore(ev, k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), Option(r.get(5)), Option(r.get(7))))).toMap
    assert(out(1L) === ((0L, None, None)))          // no prior events
    assert(out(2L)._1 === 1L && out(2L)._3.isEmpty) // one prior: no z yet
    assert(out(4L)._1 === 3L && out(4L)._3.isEmpty) // constant prior window: guarded
    assert(out(4L)._2 === Some(10.0))
    val z5 = out(5L)._3.get.asInstanceOf[Double]
    val m = 32.5; val sd = math.sqrt((3 * (10.0 - m) * (10.0 - m) + (100.0 - m) * (100.0 - m)) / 4)
    assert(math.abs(z5 - (14.0 - m) / sd) < 1e-9)
    assert(out(6L) === ((0L, None, None)))          // other key isolated
  }

  test("rolling stats: trailing ROWS frame per key, tie-total ordering") {
    val ms = 1000000L
    val ev = Seq(
      (1L, 1L, 1L * ms, 1.0), (2L, 1L, 2L * ms, 2.0), (3L, 1L, 3L * ms, 3.0),
      // u2: duplicate timestamps — frame order falls back to event_id
      (4L, 2L, 5L * ms, 10.0), (5L, 2L, 5L * ms, 20.0), (6L, 2L, 5L * ms, 30.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = EventStreams.rollingStats(ev, k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out(1L) === ((1L, 1.0, 1.0, 1.0)))
    assert(out(2L) === ((2L, 3.0, 1.5, 2.0)))
    assert(out(3L) === ((2L, 5.0, 2.5, 3.0)))
    assert(out(4L) === ((1L, 10.0, 10.0, 10.0)))
    assert(out(5L) === ((2L, 30.0, 15.0, 20.0)))
    assert(out(6L) === ((2L, 50.0, 25.0, 30.0)))
  }

  test("split balance: balanced z small, broken split flagged; dim histogram") {
    import graft.functions.Sampling
    import graft.prepare.Prepare
    val docs = (1 to 1000).map(_.toLong).toDF("doc_id")
    val w = Seq("train" -> 0.9, "test" -> 0.1)
    val ok = Sampling.splitBalanceCheck(
      Sampling.deterministicSplit(docs, "doc_id", w), "split", w)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    assert(ok("train")._1 + ok("test")._1 === 1000L)
    assert(ok.values.forall(v => math.abs(v._2) < 4.0), s"balanced split: $ok")
    // a deliberately broken assignment (everything 'train') is flagged
    val broken = Sampling.splitBalanceCheck(
      docs.withColumn("split", lit("train")), "split", w)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(broken("train") > 4.0 && broken("test") < -4.0)
    // dimension histogram: mixed dims + null all counted
    val mixed = Seq(("a", Seq(1f, 2f)), ("b", Seq(1f, 2f)),
      ("c", Seq(1f, 2f, 3f)), ("d", null: Seq[Float])).toDF("id", "vector")
    val dh = Prepare.dimensionHistogram(mixed)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(dh === Map(2 -> 2L, 3 -> 1L, -1 -> 1L))
  }

  test("split balance check carries no hint Spark drops (no hint WARN logged)") {
    import graft.functions.Sampling
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("hint-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    val rows =
      try {
        val docs = (1 to 200).map(_.toLong).toDF("doc_id")
        val w = Seq("train" -> 0.8, "test" -> 0.2)
        Sampling.splitBalanceCheck(Sampling.deterministicSplit(docs, "doc_id", w), "split", w)
          .collect()
      } finally {
        root.removeAppender(appender)
        appender.stop()
      }
    assert(rows.map(_.getLong(1)).sum === 200L)
    val hints = warnings.toArray.map(_.toString).filter(_.contains("Hint (strategy="))
    assert(hints.isEmpty, hints.mkString("\n"))
  }

  test("funnel trend: per-anchor-bucket depth counts; kFold covers and is cluster-safe") {
    import graft.streaming.EventStreams
    import graft.functions.Sampling
    val ms = 1000000L
    val day = 86400L * 1000000000L
    val ev = Seq( // u1 converts day 0; u2 stalls day 0; u3 converts day 1
      (1L, "view", 10L * ms), (1L, "click", 20L * ms), (1L, "purchase", 30L * ms),
      (2L, "view", 40L * ms),
      (3L, "view", day + 10L * ms), (3L, "click", day + 20L * ms),
      (3L, "purchase", day + 30L * ms))
      .toDF("user_id", "event_type", "ts")
    val trend = EventStreams.funnelTrend(EventStreams.funnelSteps(
      ev, Seq("view", "click", "purchase"), horizonSeconds = 3600L))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(trend === Map((0L, 3) -> 1L, (0L, 1) -> 1L, (1L, 3) -> 1L))
    // kFold: every fold in [0,k), deterministic, cluster-keyed co-assignment
    val docs = (1 to 100).map(_.toLong).toDF("doc_id")
    val folds = Sampling.kFold(docs, "doc_id", k = 5, salt = "s")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(folds.values.forall(f => f >= 0 && f < 5))
    assert(folds.values.toSet.size === 5) // all folds populated at n=100
    val again = Sampling.kFold(docs, "doc_id", k = 5, salt = "s")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === folds)
    // leakage-safe form: fold by the CLUSTER label co-assigns members
    val labeled = Seq(("a", "c1"), ("b", "c1"), ("c", "c9"))
      .toDF("id", "cluster_id")
    val cf = Sampling.kFold(labeled, "cluster_id", k = 3)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(cf("a") === cf("b"))
  }

  test("retention cohorts: day-bucket triangle on hand data") {
    val sec = 1000000000L
    val ev = Seq( // bucketSeconds = 10 -> bucket = ts div 10s
      (1L, 2L * sec), (1L, 13L * sec), (1L, 27L * sec),
      (2L, 12L * sec), (2L, 33L * sec))
      .toDF("user_id", "ts")
    val out = EventStreams.retentionCohorts(ev, bucketSeconds = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((0L, 0L, 1L), (0L, 1L, 1L), (0L, 2L, 1L),
      (1L, 0L, 1L), (1L, 2L, 1L)))
  }

  test("approx retention: HLL cells within rsd of exact on the gate data") {
    val ev = Tables.read(spark, "/root/testdata/sf0.01", "events")
    val exact = EventStreams.retentionCohorts(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val approx = EventStreams.retentionCohortsApprox(ev, rsd = 0.02)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k).toDouble
      assert(math.abs(a - n) <= math.max(2.0, 0.1 * n),
        s"cell $k approx $a vs exact $n") // 5 sigma at rsd 0.02
    }
  }

  test("bloom against-cut is exact: equals the plain anti-join even at high fpp") {
    import graft.dedup.Dedup
    val corpus = Seq(("c1", "alpha"), ("c2", "beta"), ("c3", "gamma"))
      .toDF("id", "text")
    val batch = Seq(("b1", "alpha"), ("b2", "delta"), ("b3", "epsilon"),
      ("b4", "beta")).toDF("id", "text")
    val plain = Dedup.dropExactAgainst(corpus, batch, col("text"))
      .select("id").collect().map(_.getString(0)).toSet
    assert(plain === Set("b2", "b3"))
    // fpp 0.4: false positives likely — the anti-join must clear them
    for (fpp <- Seq(0.4, 0.01)) {
      val bloomed = Dedup.dropExactAgainstBloom(corpus, batch, col("text"), fpp)
        .select("id").collect().map(_.getString(0)).toSet
      assert(bloomed === plain, s"fpp=$fpp")
    }
    // prebuilt corpus bloom: every corpus key is a definite positive
    val bloom = Dedup.corpusKeyBloom(corpus, col("text"))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Seq("alpha", "beta", "gamma").foreach(t =>
      assert(bloom.mightContainString(md5hex(t)), t))
  }

  test("Curation config: canonical keys merge NFD twins; nearKeepScore keeps the best copy") {
    import graft.functions.Curation
    val base = "the quick brown fox jumps over the lazy dog and keeps running " +
      "through fields with many more words to pass the quality gate easily " +
      "because gopher wants at least twenty well formed words in a document"
    val docs = Seq(
      ("a1", base + " café"),        // NFC é
      ("a2", base + " CAFÉ"),       // NFD + uppercase: same canonical key
      ("b1", base + " entirely different suffix so it is no near duplicate " +
        "zeta theta iota kappa lambda")
    ).toDF("id", "text")
    // default keys: a1/a2 differ byte-wise AND share most shingles -> the
    // near-dup stage may merge them; canonical keys must merge them at the
    // EXACT stage already (near-dedup off isolates the claim)
    val plain = Curation.curate(docs, "id", "text",
      config = Curation.Config(nearDedup = false)).count()
    assert(plain === 3)
    val canon = Curation.curate(docs, "id", "text",
      config = Curation.Config(nearDedup = false, canonicalKeys = true))
      .select("id").collect().map(_.getString(0)).toSet
    assert(canon === Set("a1", "b1")) // min-id survivor of the merged pair
    // best-by-length near-dup keep: the LONGER member of a planted pair wins
    val other = "completely different prose about ships and harbors where " +
      "sailors mend their nets while gulls circle the masts and the tide " +
      "slowly turns beneath wooden piers near the old stone lighthouse"
    val near = Seq(
      ("n1", base), ("n2", base + " extra tail of tokens"), ("m1", other))
      .toDF("id", "text")
    val best = Curation.curate(near, "id", "text",
      config = Curation.Config(minhashThreshold = 0.5,
        nearKeepScore = Some(length(col("text")))))
      .select("id").collect().map(_.getString(0)).toSet
    assert(best.contains("n2") && !best.contains("n1"))
    // semantic stage: a PARAPHRASE (no shared shingles, near-identical
    // embedding) passes exact + MinHash but drops at SemDeDup; the
    // min-id member of the semantic cluster survives
    val para = Seq(
      ("p1", base, Seq(1f, 0f, 0f, 0f)),
      ("p2", other, Seq(0.999f, 0.04f, 0f, 0f)),  // paraphrase of p1
      ("p3", "mountain trails wind upward through pine forests where hikers " +
        "pause beside cold streams and granite boulders mark the path toward " +
        "distant snowy summits high above the quiet valley floor",
        Seq(0f, 0f, 1f, 0f)))
      .toDF("id", "text", "embedding")
    val sem = Curation.curate(para, "id", "text",
      config = Curation.Config(semanticDedup = true, semanticCells = 2,
        semanticThreshold = 0.9))
      .select("id").collect().map(_.getString(0)).toSet
    assert(sem === Set("p1", "p3"), s"semantic stage kept $sem")
    // without the stage the paraphrase survives (nothing textual collides)
    val noSem = Curation.curate(para, "id", "text")
      .select("id").collect().map(_.getString(0)).toSet
    assert(noSem === Set("p1", "p2", "p3"))
    // internal fit on an EMPTY surviving frame: the stage is a no-op,
    // not a crash (there is nothing to fit or drop)
    val allShortSem = Curation.curate(
      Seq(("s1", "too short", Seq(1f, 0f, 0f, 0f)))
        .toDF("id", "text", "embedding"),
      "id", "text", config = Curation.Config(semanticDedup = true))
    assert(allShortSem.count() === 0)
    // and a frame whose FIRST rows lack embeddings still fits on the
    // rows that have them (null-embedding rows pass through, like the
    // batch SemDeDup contract: a null cell pairs with nothing)
    val mixed = Curation.curate(
      (("p0", base + " unique embeddingless head",
        null.asInstanceOf[Seq[Float]]) +: para.collect()
        .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2))).toSeq)
        .toDF("id", "text", "embedding"),
      "id", "text", config = Curation.Config(nearDedup = false,
        semanticDedup = true, semanticCells = 2, semanticThreshold = 0.9))
      .select("id").collect().map(_.getString(0)).toSet
    assert(mixed === Set("p0", "p1", "p3"), s"mixed-null semantic kept $mixed")
  }

  test("Curation facade reproduces the pipeline_curation gate composition") {
    import graft.functions.Curation
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.read(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") >= 480 || col("doc_id") < 10)
      .select(col("text"))
    val viaFacade = Curation.curate(
      docs.select(col("doc_id"), col("lang"), col("text")),
      "doc_id", "text", stratumCol = Some("lang"),
      benchmark = Some(bench),
      config = Curation.Config(nearDedup = false,
        stratumFractions = Seq("en" -> 0.5, "de" -> 1.0),
        defaultFraction = 0.1))
      .select("doc_id", "lang", "seq_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val viaGate = TrainingQueries.queries("pipeline_curation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(viaFacade === viaGate && viaFacade.nonEmpty)
    // the optional stages compose without breaking the id contract
    val withExtras = Curation.curate(
      docs.select(col("doc_id"), col("lang"), col("text")),
      "doc_id", "text",
      config = Curation.Config(stripRepeatedSpans = true, lmFilter = true))
    val rows = withExtras.select("doc_id", "seq_id").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sorted.toSeq === rows.indices.map(_.toLong))
    // gates that empty the corpus: lmFilter has no median to cut at —
    // curate returns the empty frame instead of crashing
    val allShort = Seq((1L, "en", "too short"), (2L, "en", "also short"))
      .toDF("doc_id", "lang", "text")
    val empty = Curation.curate(allShort, "doc_id", "text",
      config = Curation.Config(lmFilter = true))
    assert(empty.count() === 0)
    // learned quality gate: a linear-probe threshold over the embedding
    // column composes as a stage (FineWeb-Edu shape) — same text, the
    // embedding decides
    val good = (1 to 30).map(i => s"word$i").mkString(" ")
    val probed = Curation.curate(
      Seq(("hi", good + " a"), ("lo", good + " b")).toDF("doc_id", "text")
        .withColumn("embedding",
          when(col("doc_id") === "hi", typedlit(Seq(1f, 0f)))
            .otherwise(typedlit(Seq(-1f, 0f)))),
      "doc_id", "text",
      config = Curation.Config(nearDedup = false,
        probe = Some(graft.encode.LinearProbe.Model(Array(1.0, 0.0), 0.0, 0.0)),
        probeMinScore = 0.5))
    assert(probed.select("doc_id").collect().map(_.getString(0)).toSeq === Seq("hi"))
  }

  test("repeated-span strip: first occurrence survives, later repeats fall, cross-doc untouched") {
    val phrase = "p1 p2 p3 p4 p5"
    val docs = Seq(
      // phrase repeats inside ONE doc: first copy stays, second falls
      ("a", s"$phrase mid1 mid2 mid3 $phrase"),
      // same phrase in ANOTHER doc, once: within-doc op must NOT touch it
      ("b", s"$phrase tail1 tail2 tail3"),
      ("c", "all unique tokens here nothing repeated at all")
    ).toDF("id", "text")
    val out = Dedup.dropRepeatedSpans(docs, "id", col("text"), spanTokens = 5)
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getInt(2), r.getString(4))).toMap
    assert(out("a") === ((13, 8, s"$phrase mid1 mid2 mid3")))
    assert(out("b")._1 === out("b")._2) // cross-doc repeat is dropSharedSpans' job
    assert(out("c")._1 === out("c")._2)
    // looping output: "x1..x5" repeated 4x keeps exactly the first copy
    val loop = Seq(("l", Array.fill(4)("x1 x2 x3 x4 x5").mkString(" ")))
      .toDF("id", "text")
    val l = Dedup.dropRepeatedSpans(loop, "id", col("text"), spanTokens = 5)
      .head
    assert(l.getInt(2) === 5 && l.getString(4) === "x1 x2 x3 x4 x5")
  }

  test("temperature sampling: T=1 proportional, high T flattens, cap and determinism") {
    import graft.functions.Sampling
    val rows = ((0 until 800).map(i => (i, "big")) ++
      (800 until 900).map(i => (i, "mid")) ++
      (900 until 920).map(i => (i, "tiny"))).toDF("id", "grp")
    // T=1: p_g = n_g/N -> every group gets the SAME rate targetFraction
    val t1 = Sampling.temperatureSample(rows, "id", "grp", 1.0, 0.5, "s")
      .select("grp", "mix_rate_x1000").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(t1.values.toSet === Set(500))
    // T=4 flattens: tiny group's rate rises (capped at 1000), big falls
    val t4 = Sampling.temperatureSample(rows, "id", "grp", 4.0, 0.5, "s")
      .select("grp", "mix_rate_x1000").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(t4("tiny") === 1000 && t4("mid") === 1000) // tail kept whole (cap)
    assert(t4("big") < 500) // head pays for the tail boost
    // deterministic: same call, same keep-set
    val a = Sampling.temperatureSample(rows, "id", "grp", 4.0, 0.5, "s")
      .select("id").collect().map(_.getInt(0)).toSet
    val b = Sampling.temperatureSample(rows, "id", "grp", 4.0, 0.5, "s")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(a === b && a.nonEmpty)
    // NULL group: a real group — its rows sample at their derived rate
    // instead of vanishing through a null-dropping equi-join
    val withNull = rows.withColumn("grp",
      when(col("id") < 100, lit(null: String)).otherwise(col("grp")))
    val nn = Sampling.temperatureSample(withNull, "id", "grp", 1.0, 0.5, "s")
    assert(nn.filter(col("grp").isNull).count() > 0)
    assert(nn.select("grp", "mix_rate_x1000").distinct().collect()
      .map(_.getInt(1)).toSet === Set(500)) // T=1: uniform rate incl. null grp
  }

  test("semdedup: within-cell pairs verify, boundary straddles miss, canonical keep") {
    // hand-made centroids — training is the caller's concern (the gate
    // row trains via IvfIndex.trainOrdered; here geometry is explicit)
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val corpus = Seq(
      ("a1", Array(1f, 0f, 0f, 0f)),
      ("a2", Array(0.99f, 0.01f, 0f, 0f)),   // near a1, same cell
      ("b1", Array(0f, 1f, 0f, 0f)),
      ("b2", Array(0f, 0.99f, 0.1f, 0f)),    // near b1, same cell
      ("x1", Array(0.75f, 0.66f, 0f, 0f)),   // cell 0 ...
      ("x2", Array(0.66f, 0.75f, 0f, 0f)),   // ... cell 1: near pair straddles
      ("c1", Array(0f, 0f, 1f, 0f))          // alone in its direction
    ).toDF("id", "vector")
    val pairs = Dedup.semanticPairs(corpus, "id", "vector", cents, 0.9)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("a1", "a2"), ("b1", "b2")))
    // x1/x2 are cosine ~0.99 but land in different cells: missed by
    // construction — the SemDeDup contract (cluster-scoped candidates)
    assert(!pairs.contains(("x1", "x2")))
    val kept = Dedup.dropSemanticDuplicates(corpus, "id", "vector", cents, 0.9)
      .select("id").collect().map(_.getString(0)).toSet
    assert(kept === Set("a1", "b1", "x1", "x2", "c1"))
    // hot-cell guard: cap below the cell size skips the pair join for
    // that cell, and the audit surfaces it
    val crowd = (0 until 6).map(i => (f"z$i", Array(1f, i * 1e-4f, 0f, 0f)))
    val crowded = (crowd ++ Seq(("w1", Array(0f, 1f, 0f, 0f)),
      ("w2", Array(0f, 0.99f, 0.1f, 0f)))).toDF("id", "vector")
    val guarded = Dedup.semanticPairs(crowded, "id", "vector", cents, 0.9,
      maxCellSize = 4).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(guarded === Set(("w1", "w2")))
    val hot = Dedup.semanticHotCells(crowded, "id", "vector", cents,
      maxCellSize = 4).collect()
    assert(hot.map(_.getInt(0)).toSeq === Seq(0))
  }

  test("embedding batch-vs-corpus: near vectors matched, novel vectors kept") {
    val corpus = Seq(
      ("c1", Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      ("c2", Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f))
    ).toDF("id", "vector")
    val batch = Seq(
      ("b1", Array(0.99f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f)), // near c1
      ("b2", Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f))        // novel direction
    ).toDF("id", "vector")
    val lsh = graft.ann.CosineLsh.LshConfig(bands = 8, bitsPerBand = 4)
    val matches = Dedup.embeddingMatchesAgainst(corpus, batch, "id", "vector",
      lsh, threshold = 0.9).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(matches === Set(("b1", "c1")))
    val novel = Dedup.dropEmbeddingAgainst(corpus, batch, "id", "vector",
      lsh, threshold = 0.9).collect().map(_.getString(0)).toSet
    assert(novel === Set("b2"))
  }

  test("clusters: min-label propagation merges transitive groups") {
    val df = Seq("a", "b", "c", "d", "e").toDF("id")
    val pairs = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("id_a", "id_b")
    val out = Dedup.clusters(df, "id", pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
  }

  test("clusters: fixpoint convergence on a chain deeper than any fixed round count") {
    // a 12-node chain has diameter 11: one-hop propagation with a fixed
    // 5 rounds would split it; the fixpoint loop must label all -> c00
    val ids = (0 until 40).map(i => f"c$i%02d")
    val df = ids.toDF("id")
    val pairs = ids.zip(ids.tail).toDF("id_a", "id_b")
    // maxLocalPairs = 0 forces the DISTRIBUTED loop (small pair sets
    // default to driver union-find)
    val out = Dedup.clusters(df, "id", pairs, maxLocalPairs = 0).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.values.toSet === Set("c00"))
    // pointer jumping: a 40-node chain (diameter 39) must converge in
    // O(log) rounds, not O(diameter)
    assert(Dedup.lastClusterRounds > 0 && Dedup.lastClusterRounds <= 10,
      s"expected O(log d) distributed rounds, took ${Dedup.lastClusterRounds}")
  }

  test("clusters: driver union-find path is identical to the distributed loop") {
    // mixed components incl. a chain, a star, singletons; string ids
    // exercise the UTF8-binary min rule
    val ids = (0 until 60).map(i => f"n$i%02d") :+ "zz" :+ "AA"
    val df = ids.toDF("id")
    val pairs = (
      (0 until 9).map(i => (f"n$i%02d", f"n${i + 1}%02d")) ++   // chain n00..n09
      (20 until 25).map(i => (f"n$i%02d", "n30")) ++            // star at n30
      Seq(("zz", "AA"))                                         // AA < zz in both orders
    ).toDF("id_a", "id_b")
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1))).sortBy(identity).toSeq
    val local = sorted(Dedup.clusters(df, "id", pairs)) // default: local path
    assert(Dedup.lastClusterRounds === 0, "small pair set should take the driver path")
    val dist = sorted(Dedup.clusters(df, "id", pairs, maxLocalPairs = 0))
    assert(Dedup.lastClusterRounds > 0)
    assert(local === dist)
  }

  test("dropNearDuplicates keeps one canonical row per duplicate cluster") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running"
    val docs = Seq(
      ("a1", base),
      ("a2", base),                       // exact copy of a1
      ("a3", base + " extra"),            // near copy of a1
      ("b1", "completely different text about other things entirely here"),
      ("c1", "a third unrelated document with its own words and phrases")
    ).toDF("id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "id", $"text",
      k = 2, numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(_.getString(0)).sorted
    assert(kept.toSeq === Seq("a1", "b1", "c1"))
  }

  /** 40 base docs of 40 pseudo-random tokens + 15 one-extra-token
    * near-copies (jaccard ~0.9), a NULL text, an empty text and a NULL
    * id. */
  private def nearDupCorpus = {
    val base = (0 until 40).map(i =>
      (Option(f"d$i%03d"), (0 until 40).map(w => s"tok${(i * 7 + w * 13) % 97}x$w").mkString(" ")))
    val planted = (0 until 15).map(i => (Option(f"e$i%03d"), base(i)._2 + " zzextra"))
    (base ++ planted ++ Seq((Option("n001"), null), (Option("n002"), ""),
      (None, base(3)._2))).toDF("id", "text")
  }

  test("minhashVerifiedPairs verifies candidate pairs only: no shingle array over the input; rows == the array formula") {
    def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
    val corpus = nearDupCorpus
    for (fast <- Seq(true, false)) {
      val pairs = Dedup.minhashVerifiedPairs(corpus, "id", col("text"),
        k = 3, numHashes = 8, bands = 4, threshold = 0.5, fastHash = fast)
      val got = pairs.collect().map(r => (r.getString(0), r.getString(1), bits(r.getDouble(2))))
        .sorted.toSeq
      // the executed (final adaptive) plan: no distinct_shingles anywhere,
      // so none computed over the whole input and none broadcast
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("distinct_shingles"), plan)
      assert(plan.contains("shingle_jaccard"), plan)
      // reference: the same candidates verified by the array formula
      val sh = corpus.select(col("id").as("sid"), TextAnalysis.distinctShingles(col("text"), 3).as("sh"))
      val want = Dedup.minhashCandidatePairs(corpus, "id", col("text"), 3, 8, 4, fastHash = fast)
        .join(sh.select(col("sid").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("sid").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
        .filter(col("jaccard") >= 0.5)
        .collect().map(r => (r.getAs[String]("id_a"), r.getAs[String]("id_b"),
          bits(r.getAs[Double]("jaccard")))).sorted.toSeq
      assert(got.size >= 15, s"fast=$fast: planted pairs missing: $got")
      assert(got === want, s"fast=$fast")
    }
  }

  test("minhashVerifiedPairs scores each candidate pair once: one shingle_jaccard in the optimized plan") {
    val pairs = Dedup.minhashVerifiedPairs(nearDupCorpus, "id", col("text"),
      k = 3, numHashes = 8, bands = 4, threshold = 0.5, fastHash = true)
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert("shingle_jaccard".r.findAllIn(plan).size === 1, plan)
    assert(pairs.count() >= 15)
  }

  test("dropNearDuplicates: the drop-set filter equals the distributed path (each row at most once, NULL ids dropped)") {
    // a repeated canonical id (d005, same text) and a repeated dropped id
    // (e007: one near-dup of d007, one unrelated text): every row once,
    // a repeated id kept or dropped with all its rows, on both paths
    val d005 = nearDupCorpus.filter(col("id") === "d005").head().getString(1)
    val corpus = nearDupCorpus.union(Seq((Option("d005"), d005),
      (Option("e007"), "an unrelated text that shares no shingle at all")).toDF("id", "text"))
    def kept() = Dedup.dropNearDuplicates(corpus, "id", col("text"),
      k = 3, numHashes = 8, bands = 4, threshold = 0.5, fastHash = true)
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).sorted.toSeq
    val local = kept()
    assert(Dedup.lastClusterRounds === 0, "small pair set should take the driver path")
    spark.conf.set("spark.graft.dedup.maxLocalPairs", "0")
    val dist = try kept() finally spark.conf.unset("spark.graft.dedup.maxLocalPairs")
    assert(Dedup.lastClusterRounds > 0)
    assert(local === dist)
    assert(local.map(_._1).sorted ===
      ((0 until 40).map(i => Option(f"d$i%03d")) ++
        Seq(Option("d005"), Option("n001"), Option("n002"))).sorted)
  }

  test("token-budget mix: epochs signal, rate cap, unlisted sources drop") {
    import graft.functions.Sampling
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i <= 10) "small" else if (i <= 30) "big" else "other",
        100L)).toDF("id", "source", "tok")
    // small holds 1000 tokens, big 2000; budget 3000 at 2:1 ->
    // small target 2000 (epochs 2.0, rate caps at 1000), big target
    // 1000 (rate 500); 'other' unlisted -> rate 0
    val plan = Sampling.tokenBudgetMix(docs, "source", col("tok"),
      Seq("small" -> 2.0, "big" -> 1.0), budgetTokens = 3000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(plan("small") === ((1000L, 2000.0, 1000, 2.0)))
    assert(plan("big") === ((2000L, 1000.0, 500, 0.5)))
    assert(plan("other") === ((1000L, 0.0, 0, 0.0)))
    val kept = Sampling.applyTokenBudgetMix(docs, "id", "source", col("tok"),
      Seq("small" -> 2.0, "big" -> 1.0), budgetTokens = 3000L, salt = "x")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "small") === 10) // rate 1000 keeps all
    assert(!kept.exists(_._2 == "other"))
    val bigKept = kept.count(_._2 == "big")
    assert(bigKept > 0 && bigKept < 20) // ~half by md5 threshold
    // deterministic: same salt, same keep-set
    val again = Sampling.applyTokenBudgetMix(docs, "id", "source", col("tok"),
      Seq("small" -> 2.0, "big" -> 1.0), budgetTokens = 3000L, salt = "x")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.toSeq === kept.sorted.toSeq)
  }

  test("snapshot diff: added/removed/changed only, column-order independent") {
    import graft.store.CollectionStore
    val before = Seq(("a", 1.0, "x"), ("b", 2.0, "y"), ("c", 3.0, "z"))
      .toDF("id", "v", "tag")
    val after = Seq(("b", 2.0, "y"), ("c", 9.0, "z"), ("d", 4.0, "w"))
      .toDF("id", "v", "tag")
    val out = CollectionStore.diffSnapshots(before, after)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("a" -> "removed", "c" -> "changed", "d" -> "added"))
    // unchanged rows are omitted; column order doesn't matter
    val reordered = after.select("tag", "id", "v")
    val out2 = CollectionStore.diffSnapshots(before, reordered)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out2 === out)
    // restrict comparison to one column: c's v-change invisible
    val out3 = CollectionStore.diffSnapshots(before, after,
      compareCols = Seq("tag"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out3 === Map("a" -> "removed", "d" -> "added"))
  }

  test("top terms per cluster: planted distinctive terms rank first") {
    val docs = Seq(
      ("a", "shared words plus banana banana banana"),
      ("a", "shared words plus banana kiwi kiwi"),
      ("b", "shared words plus bolt bolt bolt"),
      ("b", "shared words plus bolt washer washer")).toDF("cl", "text")
    val out = TextAnalysis.topTermsPerCluster(docs, "cl", "text", topN = 2)
      .collect().map(r => (r.getString(0), r.getInt(3)) -> r.getString(1)).toMap
    // cluster-exclusive high-frequency terms outscore the shared ones
    assert(out(("a", 1)) === "banana")
    assert(out(("b", 1)) === "bolt")
    // at EQUAL frequency, the cluster-exclusive term beats the shared
    // one (kiwi/washer tf == plus tf, but ln(1+2/1) > ln(1+2/2))
    assert(out(("a", 2)) === "kiwi")
    assert(out(("b", 2)) === "washer")
  }

  test("session paths: gap-split chains, equal-ts order, top-k tie order") {
    import graft.streaming.EventStreams
    val sec = 1000000000L
    val ev = Seq(
      (1L, "view", 0L), (1L, "click", 10L * sec),          // session 1
      (1L, "purchase", 5000L * sec),                        // session 2 (gap)
      (2L, "view", 0L), (2L, "click", 10L * sec),
      (3L, "buy", 0L), (3L, "buy", 0L))                     // equal ts: sorted pair
      .toDF("user_id", "event_type", "ts")
    val out = EventStreams.topSessionPaths(ev, gapSeconds = 60L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("view>click", 2L), ("buy>buy", 1L), ("purchase", 1L)))
  }

  test("quantile bins: exact deciles, ties resolved by id, rank contiguous") {
    import graft.functions.Sampling
    val df = (1 to 10).map(i => (i.toLong, (i % 3).toDouble)).toDF("id", "v")
    val out = Sampling.quantileBin(df, struct(col("v"), col("id")), nBins = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    // order by (v, id): v=0 -> ids 3,6,9; v=1 -> 1,4,7,10; v=2 -> 2,5,8
    assert(out(3L)._1 === 0L && out(9L)._1 === 2L)
    assert(out(3L)._2 === 0 && out(2L)._2 === 1)
    val ranks = out.values.map(_._1).toSeq.sorted
    assert(ranks === (0L until 10L))
    // bottom half bin 0, top half bin 1
    assert(out.values.count(_._2 == 0) === 5)
  }

  test("key skew stats: hot key share and x-uniform ratio") {
    import graft.functions.Skew
    val df = (Seq.fill(90)("hot") ++ (1 to 10).map(i => s"k$i"))
      .toDF("key0").select(col("key0"))
    val out = Skew.keyStats(df, col("key0"), topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.head._1 === "hot" && out.head._2 === 90L)
    assert(math.abs(out.head._3 - 0.9) < 1e-12)
    // 11 distinct keys, mean 100/11: hot is 90/(100/11) = 9.9x uniform
    assert(math.abs(out.head._4 - 9.9) < 1e-9)
    assert(out.length === 3 && out(1)._2 === 1L)
  }

  test("corpus profile: totals, moments, entropy extremes; band tuning picks MMDS split") {
    val docs = Seq(("a", "one two three", "en"), ("b", "four five", "en"),
      ("c", "six", "de")).toDF("id", "text", "lang")
    val p = TextAnalysis.corpusProfile(docs, "text", "lang").collect().head
    assert(p.getLong(0) === 3L && p.getLong(1) === 6L)
    assert(math.abs(p.getDouble(2) - 2.0) < 1e-12)
    assert(p.getInt(3) === 1 && p.getInt(4) === 3)
    val want = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(p.getDouble(5) - want) < 1e-12 && p.getLong(6) === 2L)
    // monoculture: entropy exactly 0
    val mono = TextAnalysis.corpusProfile(
      docs.withColumn("lang", lit("en")), "text", "lang").collect().head
    assert(mono.getDouble(5) === 0.0 && mono.getLong(6) === 1L)
    // band tuning: 16 hashes at target 0.7 -> the classic (4, 4) whose
    // S-curve threshold is 0.25^0.25 ~ 0.707; 0.35 -> (8, 2) ~ 0.354
    import graft.dedup.Dedup
    val (b, r, t) = Dedup.tuneBands(16, 0.7)
    assert(b === 4 && r === 4)
    assert(math.abs(t - math.pow(0.25, 0.25)) < 1e-12)
    assert(Dedup.tuneBands(16, 0.35)._1 === 8)
    // extremes: near-0 target wants many bands, near-1 wants few
    assert(Dedup.tuneBands(16, 0.05)._1 === 16)
    assert(Dedup.tuneBands(16, 0.99)._1 === 1)
  }

  test("blocklist: case-insensitive hits, fraction thresholding beats presence") {
    val terms = Seq("BAD", "worse")
    val out = Seq(
      ("quote", "a long text that mentions bad once " + ("filler " * 20).trim),
      ("listing", "bad worse bad worse"),
      ("clean", "nothing objectionable here"))
      .toDF("id", "text")
      .select(col("id"),
        TextAnalysis.blocklistHits(col("text"), terms).as("n"),
        TextAnalysis.blocklistFraction(col("text"), terms).as("f"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(out("quote")._1 === 1)
    assert(out("quote")._2 < 0.05, "one hit in a long doc stays under a 5% gate")
    assert(out("listing") === ((4, 1.0)))
    assert(out("clean") === ((0, 0.0)))
  }

  test("lexical diversity: ttr and hapax on hand texts") {
    val out = Seq(
      ("rep", "spam spam spam spam"),       // ttr 0.25, hapax 0/1
      ("uniq", "all words here differ"),    // ttr 1, hapax 1
      ("mix", "a a b c"))                   // ttr 0.75, hapax 2/3
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.typeTokenRatio(col("text")).as("t"),
        TextAnalysis.hapaxFraction(col("text")).as("h"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out("rep") === ((0.25, 0.0)))
    assert(out("uniq") === ((1.0, 1.0)))
    assert(out("mix") === ((0.75, 2.0 / 3.0)))
  }

  test("vector audit: planted null/NaN/zero/scaled rows all counted once") {
    import graft.prepare.Prepare
    val rows = Seq(
      ("ok1", Seq(3f, 4f)),                       // norm 5
      ("ok2", Seq(0.3f, 0.4f)),                   // norm ~0.5
      ("zero", Seq(0f, 0f)),
      ("nan", Seq(Float.NaN, 1f)),
      ("inf", Seq(Float.PositiveInfinity, 1f)),
      ("nul", null: Seq[Float])).toDF("id", "vector")
    val a = Prepare.vectorAudit(rows).collect().head
    assert(a.getLong(0) === 6 && a.getLong(1) === 1)
    assert(a.getLong(2) === 2 && a.getLong(3) === 1)
    assert(a.getDouble(4) === 0.0)         // min over clean includes the zero vector
    assert(a.getDouble(6) === 5.0)
    // clean corpus: no pathologies, norms positive
    val emb = Prepare.vectorAudit(
      Tables.read(spark, "/root/testdata/sf0.001", "embeddings"), "embedding")
      .collect().head
    assert(emb.getLong(1) === 0 && emb.getLong(2) === 0 && emb.getLong(3) === 0)
    assert(emb.getDouble(4) > 0.0)
  }

  test("user activity features: exact medians, buckets, single-event null gap") {
    import graft.streaming.EventStreams
    val sec = 1000000000L
    val ev = Seq(
      (1L, 0L), (1L, 10L * sec), (1L, 40L * sec),            // gaps 10s,30s -> median 20s
      (2L, 5L * sec), (2L, 6L * sec), (2L, 9L * sec), (2L, 100L * sec), // gaps 1,3,91 -> median 3s
      (3L, 7L * sec))
      .toDF("user_id", "ts")
    val out = EventStreams.userActivityFeatures(ev, bucketSeconds = 20L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(5))))).toMap
    // u1 buckets (20s): 0s->0, 10s->0, 40s->2 => 2 distinct; even gap
    // count averages the middles: (10s+30s)/2 = 20s = 2.0e7 us
    assert(out(1L) === ((3L, 2L, Some(2.0e7))))
    assert(out(2L) === ((4L, 2L, Some(3.0e6))))
    assert(out(3L) === ((1L, 1L, None)))
  }

  test("vocab coverage: case-insensitive hits, OOV fractions, empty doc null") {
    val ref = Seq(("r1", "Alpha beta"), ("r2", "beta gamma")).toDF("id", "text")
    val docs = Seq(
      ("d1", "alpha BETA alpha"), // all covered (case-folded)
      ("d2", "alpha zz"),         // half covered
      ("d3", "zz qq"),            // none
      ("d4", ""),                 // tokenizer contract: one empty token
      ("d5", null)).toDF("id", "text")
    val out = TextAnalysis.vocabCoverage(ref, docs, "id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(out("d1") === ((3L, 3L, Some(1.0))))
    assert(out("d2") === ((2L, 1L, Some(0.5))))
    assert(out("d3") === ((2L, 0L, Some(0.0))))
    // '' splits to one (uncovered) empty token — the same tokens()
    // contract every text op (and the DuckDB oracle) shares
    assert(out("d4") === ((1L, 0L, Some(0.0))))
    assert(out("d5") === ((0L, 0L, None)))
  }

  test("source overlap: shared-shingle counts and jaccard; disjoint pairs absent") {
    val docs = Seq(
      ("X", "a b c d"), ("Y", "a b c e"), ("Z", "q r s t"))
      .toDF("source", "text")
    val out = Dedup.sourceOverlap(docs, "source", col("text"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // X: {abc, bcd}, Y: {abc, bce} -> shared {abc}, jaccard 1/3
    assert(out(("X", "Y")) === ((1L, 1.0 / 3.0)))
    assert(!out.contains(("X", "Z")) && !out.contains(("Y", "Z")),
      "disjoint source pairs do not appear")
    // duplicate shingles across docs of ONE source count once
    val dup = Seq(("X", "a b c"), ("X", "a b c"), ("Y", "a b c"))
      .toDF("source", "text")
    assert(Dedup.sourceOverlap(dup, "source", col("text"), 3)
      .collect().head.getLong(2) === 1L)
  }

  test("cluster size histogram: singleton/pair/triple masses add up") {
    // labels: {a,b,c} one cluster, {d,e} one, {f} singleton
    val labels = Seq(("a", "a"), ("b", "a"), ("c", "a"),
      ("d", "d"), ("e", "d"), ("f", "f")).toDF("id", "cluster_id")
    val h = Dedup.clusterSizeHistogram(labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(h === Map(1L -> ((1L, 1L, 0L)), 2L -> ((1L, 2L, 1L)),
      3L -> ((1L, 3L, 2L))))
    // totals reconcile: docs == corpus size, removable == docs - clusters
    assert(h.values.map(_._2).sum === 6L)
    assert(h.values.map(_._3).sum === 6L - 3L)
  }

  test("keepBestPerCluster: longest member survives, min-id on ties, singletons intact") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running"
    val docs = Seq(
      ("a1", base),
      ("a2", base + " extra tail"),       // near copy, LONGER -> survives
      ("a3", base),                       // exact copy of a1
      ("b1", "completely different text about other things entirely here"),
      ("c1", "a third unrelated document with its own words and phrases")
    ).toDF("id", "text")
    val pairs = Dedup.minhashVerifiedPairs(docs, "id", $"text",
      k = 2, numHashes = 8, bands = 4, threshold = 0.5).select("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(docs, "id", pairs, length($"text"))
      .collect().map(r => r.getString(0) -> r.getAs[Int]("keep_score")).toMap
    assert(kept.keySet === Set("a2", "b1", "c1"))
    assert(kept("a2") === base.length + " extra tail".length)
    // tie on score: smaller id wins (a1 vs its exact copy a3)
    val noA2 = docs.filter($"id" =!= "a2")
    val pairs2 = Dedup.minhashVerifiedPairs(noA2, "id", $"text",
      k = 2, numHashes = 8, bands = 4, threshold = 0.5).select("id_a", "id_b")
    val tied = Dedup.keepBestPerCluster(noA2, "id", pairs2, length($"text"))
      .collect().map(_.getString(0)).toSet
    assert(tied === Set("a1", "b1", "c1"))
  }

  test("langid picks the profile language; und when nothing matches") {
    val df = Seq(
      ("1", "the cat sat of the mat and it is that"),
      ("2", "el perro que corre en la casa y los gatos no se van"),
      ("3", "qwerty zxcvb asdfgh")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("1" -> "en", "2" -> "es", "3" -> "und"))
  }

  test("gopher quality signals: repetition and format filters fire correctly") {
    val clean = (1 to 30).map(i => s"word$i").mkString(" ") // 30 distinct 5-6 char words
    val bullets = "- one two three\n- four five six\n- seven eight nine"
    val repLines = "same line here\nsame line here\nsame line here\nother text"
    val repToken = ("spam " * 30).trim
    val df = Seq(("clean", clean), ("bullets", bullets),
      ("replines", repLines), ("reptoken", repToken)).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.fracBulletLines(col("text")).as("b"),
      TextAnalysis.fracDuplicateLines(col("text")).as("d"),
      TextAnalysis.topTokenFrac(col("text")).as("t"),
      TextAnalysis.gopherKeep(col("text"), minWords = 10).as("keep"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out("clean")._4 === true)
    assert(out("bullets")._1 === 1.0 && out("bullets")._4 === false)
    assert(out("replines")._2 === 0.5)
    assert(out("reptoken")._3 === 1.0 && out("reptoken")._4 === false)
  }

  test("asof join: latest prior right row per key, inclusive ties, null when none") {
    import graft.streaming.EventStreams
    val left = Seq((1L, 100L, "p1"), (1L, 50L, "p0"), (2L, 10L, "p2"))
      .toDF("k", "t", "label")
    val right = Seq((1L, 40L, 4.0), (1L, 100L, 10.0), (1L, 101L, 99.0), (3L, 5L, 3.0))
      .toDF("k", "t", "v")
    val out = EventStreams.asofJoin(left, right, "k", "t", Seq("v"))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(out("p1") === Some(10.0)) // inclusive: right at t=100 matches left t=100
    assert(out("p0") === Some(4.0))  // latest prior, not latest overall
    assert(out("p2") === None)       // no right rows for key 2
  }

  test("deterministic split: total partition, stable assignment, ~right fractions") {
    import graft.functions.Sampling
    val df = (0 until 2000).map(_.toString).toDF("id")
    val split = Sampling.deterministicSplit(df, "id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).cache()
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 2000) // every row in exactly one split
    assert(counts("train") > 1700 && counts("train") < 1900)
    assert(counts("val") > 50 && counts("test") > 50)
    // same ids land in the same split on a differently-ordered rerun
    val again = Sampling.deterministicSplit(
      df.orderBy(rand(7)).repartition(7), "id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    assert(split.join(again.withColumnRenamed("split", "split2"), "id")
      .filter(col("split") =!= col("split2")).count() === 0)
    // sampleByHash is a subset-consistent filter: sample(0.5) ⊆ sample(0.8)
    val s5 = Sampling.sampleByHash(df, "id", 0.5).select("id")
    val s8 = Sampling.sampleByHash(df, "id", 0.8).select("id")
    assert(s5.except(s8).count() === 0)
    assert(math.abs(s5.count() - 1000L) < 100)
    split.unpersist()
  }

  test("sequential ids: contiguous, order-correct, stable across partitionings") {
    import graft.functions.Sampling
    val df = scala.util.Random.shuffle((0 until 1000).toList)
      .map(i => (f"k$i%04d", i)).toDF("k", "payload").repartition(7)
    val out = Sampling.withSequentialIds(df, col("k"))
      .select("k", "seq_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size === 1000)
    assert(out.values.toSeq.sorted === (0L until 1000L))     // contiguous 0..n-1
    assert(out(f"k${0}%04d") === 0L && out(f"k${999}%04d") === 999L)
    // id equals the rank of the order key
    assert((0 until 1000).forall(i => out(f"k$i%04d") === i.toLong))
  }

  test("sequential ids: local and distributed paths agree at the size boundary") {
    import graft.functions.Sampling
    // force a tiny cap so both sides of the hybrid run at test scale;
    // n == cap takes the single-task path, n == cap + 1 the distributed
    // one — outputs must be identical row sets either way
    val cap = 64
    spark.conf.set("spark.graft.ids.maxLocalRows", cap.toString)
    try {
      for (n <- Seq(cap, cap + 1)) {
        val df = scala.util.Random.shuffle((0 until n).toList)
          .map(i => (f"k$i%04d", i)).toDF("k", "payload").repartition(5)
        val out = Sampling.withSequentialIds(df, col("k"))
          .select("k", "seq_id").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(out.size === n)
        assert((0 until n).forall(i => out(f"k$i%04d") === i.toLong),
          s"rank mismatch at n=$n (cap=$cap)")
        // disabled cap (0) must also agree: always-distributed reference
        spark.conf.set("spark.graft.ids.maxLocalRows", "0")
        val ref = Sampling.withSequentialIds(df, col("k"))
          .select("k", "seq_id").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        spark.conf.set("spark.graft.ids.maxLocalRows", cap.toString)
        assert(ref === out, s"hybrid path diverged from distributed at n=$n")
      }
    } finally spark.conf.unset("spark.graft.ids.maxLocalRows")
  }

  test("sequential ids: a partition-sensitive upstream reads the same on the small and distributed paths") {
    import graft.functions.Sampling
    // spark_partition_id() and rand(7) depend on the partition that
    // evaluates them, as columns of the input and as the order itself
    // (random sequential ids); the single-task path must not move that
    // evaluation
    val df = spark.range(0, 400, 1, 4).select(format_string("k%04d", col("id")).as("k"),
      spark_partition_id().as("pid"), rand(7).as("r"))
    for ((name, order) <- Seq("k" -> col("k"), "rand(7)" -> rand(7))) {
      def rows() = Sampling.withSequentialIds(df, order)
        .select("seq_id", "k", "pid", "r").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).sortBy(_._1).toSeq
      val small = rows()
      spark.conf.set("spark.graft.ids.maxLocalRows", "0")
      val distributed = try rows() finally spark.conf.unset("spark.graft.ids.maxLocalRows")
      assert(small.map(_._3).toSet === Set(0, 1, 2, 3), name)
      assert(small.map(_._1) === (0L until 400L), name)
      assert(small === distributed, s"order $name")
    }
  }

  test("a default curate pass runs at most 10 jobs, each labelled by its stage; the caller's description is restored") {
    import graft.functions.Curation
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    // 70% base documents of 150-250 words, then exact copies, one-word
    // near copies and too-short rejects, 10% each
    val rnd = new scala.util.Random(5L)
    val vocab = Array.fill(4096)(Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
    def words(n: Int) = Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val n = 400
    val base = (0 until n * 7 / 10).map(_ => words(150 + rnd.nextInt(101)))
    val texts = base ++ (0 until n / 10).map(i => base(i * 3)) ++
      (0 until n / 10).map(i => base(i * 3 + 1) + " " + words(1)) ++ (0 until n / 10).map(_ => words(8))
    val docs = texts.zipWithIndex.map { case (t, i) => (f"doc$i%05d", t) }
      .toDF("id", "text").repartition(4).cache()
    docs.count()
    val group = "curate-jobs"
    val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group)
          descs.put(js.jobId, String.valueOf(js.properties.getProperty("spark.job.description")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (kept, afterCurate) =
      try {
        sc.setJobGroup(group, "caller")
        try {
          val out = Curation.curate(docs, "id", "text")
          val desc = sc.getLocalProperty("spark.job.description")
          (out.select("id").collect().map(_.getString(0)).toSet, desc)
        } finally sc.clearJobGroup()
      } finally {
        var waited = 0
        while (ended.get < descs.size && waited < 50) { Thread.sleep(100); waited += 1 }
        Thread.sleep(200)
        sc.removeSparkListener(listener)
        docs.unpersist()
      }
    assert(kept === (0 until n * 7 / 10).map(i => f"doc$i%05d").toSet)
    assert(afterCurate === "caller")
    import scala.jdk.CollectionConverters._
    val byJob = descs.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(byJob.size <= 10, s"${byJob.size} jobs: $byJob")
    assert(byJob.last === "caller", byJob)
    assert(byJob.init.toSet ===
      Set("curate: exact dedup", "curate: near dedup", "curate: sequential ids"), byJob)
  }

  test("store roundtrip preserves rows and config; overrides whitelisted") {
    val config = CollectionConfig("c1", 2, Metric.Cosine)
    val coll = Prepare.prepareEmbeddings(
      embeddingRows(Seq("a" -> Array(1f, 0f), "b" -> Array(0f, 1f))), config)
    val path = java.nio.file.Files.createTempDirectory("graft_store").toString
    CollectionStore.snapshot(coll, config, path)
    val (loaded, cfg) = CollectionStore.load(spark, path, Map("name" -> "c2"))
    assert(loaded.count() === 2)
    assert(cfg.name === "c2")
    assert(cfg.metric === Metric.Cosine)
    assert(cfg.dimensions === 2)
    intercept[IllegalArgumentException] {
      CollectionStore.load(spark, path, Map("dimensions" -> "99"))
    }
  }

  test("store load rejects snapshots with invalid records") {
    val config = CollectionConfig("c1", 2, Metric.L2)
    // wrong dimensionality sneaks into the parquet
    val bad = Prepare.prepareEmbeddings(
      embeddingRows(Seq("a" -> Array(1f, 0f, 9f))), CollectionConfig("c1", 3, Metric.L2))
    val path = java.nio.file.Files.createTempDirectory("graft_store_bad").toString
    CollectionStore.snapshot(bad, config, path)
    intercept[IllegalStateException] { CollectionStore.load(spark, path) }
  }

  test("contamination report: verbatim leak = 1.0, partial overlap counted, clean = 0") {
    import graft.text.TextAnalysis
    val leak = "the quick brown fox jumps over the lazy dog tonight"
    val train = Seq(
      (1L, leak),                                            // verbatim in bench
      (2L, "the quick brown fox sits under a tree all day"), // shares the leading 3-gram
      (3L, "completely unrelated words populate this training document")
    ).toDF("doc_id", "text")
    val bench = Seq(leak, "another benchmark answer string entirely").toDF("text")
    val out = TextAnalysis.contaminationReport(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._3 === 1.0)           // every 3-gram shared
    assert(out(1L)._1 === out(1L)._2)
    assert(out(2L)._1 >= 1 && out(2L)._3 > 0.0 && out(2L)._3 < 1.0)
    assert(out(3L) === ((0L, out(3L)._2, 0.0)))
    // short text (< n tokens) collapses to a whole-text shingle and still matches
    val shortLeak = Seq((9L, "exact answer")).toDF("doc_id", "text")
    val shortBench = Seq("exact answer").toDF("text")
    val s = TextAnalysis.contaminationReport(shortLeak, shortBench, "doc_id", "text", n = 5)
      .collect().head
    assert(s.getDouble(3) === 1.0)
  }

  test("stratified sample: per-stratum rates, deterministic, subset of source") {
    import graft.functions.Sampling
    val rows = (0 until 3000).map(i =>
      (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
    val df = rows.toDF("id", "lang").repartition(8)
    val sampled = Sampling.stratifiedSampleByHash(df, "id", "lang",
      Seq("en" -> 0.5, "de" -> 1.0), defaultFraction = 0.0, salt = "s")
    val got = sampled.collect().map(r => (r.getLong(0), r.getString(1)))
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("de") === 1000)              // fraction 1.0 keeps everything
    assert(!byLang.contains("fr"))             // default 0.0 drops the rest
    assert(math.abs(byLang("en") - 500) < 100) // hash-uniform ~50%
    // exactly the rows whose hash bucket clears the per-stratum threshold
    val expected = df.withColumn("b", Sampling.hashBucket(col("id"), 1000, "s"))
      .collect().filter { r =>
        val (lang, b) = (r.getString(1), r.getInt(2))
        if (lang == "en") b < 500 else lang == "de"
      }.map(r => (r.getLong(0), r.getString(1)))
    assert(got.sorted.toSeq === expected.sorted.toSeq)
    // rerun reproduces the same sample bit-for-bit
    val again = Sampling.stratifiedSampleByHash(df, "id", "lang",
      Seq("en" -> 0.5, "de" -> 1.0), defaultFraction = 0.0, salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.toSeq === got.sorted.toSeq)
  }

  test("weighted sample: exact E-S top-n, weight monotonicity, degenerate weights excluded") {
    import graft.functions.Sampling
    val rows = (1 to 100).map(i => (i.toLong, i.toDouble))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", col("w"), n = 10, salt = "s")
      .select("id").collect().map(_.getLong(0)).toSet
    // independent scala replication of the md5 -> u -> ln(u)/w priority
    def priority(id: Long, w: Double): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val k = java.lang.Long.parseLong(hex.substring(0, 13), 16)
      math.log((k + 0.5) / 4503599627370496.0) / w
    }
    val want = rows.sortBy { case (id, w) => (-priority(id, w), id) }
      .take(10).map(_._1).toSet
    assert(got === want)
    // n >= rows: everything with positive weight survives
    assert(Sampling.weightedSample(df, "id", col("w"), n = 500).count() === 100)
    // null / non-positive weights can never be drawn
    val mixed = Seq((1L, Some(2.0)), (2L, None), (3L, Some(0.0)), (4L, Some(-1.0)))
      .toDF("id", "w")
    assert(Sampling.weightedSample(mixed, "id", col("w"), n = 10)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("weighted sample per group: per-group E-S top-n, small groups exhaust") {
    import graft.functions.Sampling
    val rows = (1 to 60).map(i =>
      (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", i.toDouble))
    val df = rows.toDF("id", "g", "w")
    val got = Sampling.weightedSamplePerGroup(df, "id", "g", col("w"),
      nPerGroup = 4, salt = "s")
      .collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def priority(id: Long, w: Double): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      math.log((java.lang.Long.parseLong(hex.substring(0, 13), 16) + 0.5) /
        4503599627370496.0) / w
    }
    rows.groupBy(_._2).foreach { case (g, es) =>
      val want = es.sortBy { case (id, _, w) => (-priority(id, w), id) }
        .take(4).map(_._1).toSet
      assert(got(g) === want, s"group $g")
    }
    // a group smaller than n returns whole; degenerate weights excluded
    val tiny = Seq((1L, "x", 2.0), (2L, "x", 0.0), (3L, "y", 1.0))
      .toDF("id", "g", "w")
    val t = Sampling.weightedSamplePerGroup(tiny, "id", "g", col("w"), 5)
      .collect().map(_.getLong(0)).toSet
    assert(t === Set(1L, 3L))
  }

  test("leakage-safe split: cluster members never straddle splits") {
    import graft.functions.Sampling
    val docs = (1 to 40).map(i => i.toLong).toDF("id")
    // two chains {1,2,3} and {10,11}; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Sampling.leakageSafeSplit(docs, "id", pairs,
      Seq("train" -> 0.5, "test" -> 0.5), salt = "x")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size === 40)
    assert(out(1L)._1 === 1L && out(2L)._1 === 1L && out(3L)._1 === 1L)
    assert(out(10L)._1 === 10L && out(11L)._1 === 10L)
    assert(Set(out(1L)._2, out(2L)._2, out(3L)._2).size === 1)
    assert(out(10L)._2 === out(11L)._2)
    // assignment is the deterministicSplit of the cluster label
    val viaLabel = Sampling.deterministicSplit(
      docs.withColumnRenamed("id", "cluster_id"), "cluster_id",
      Seq("train" -> 0.5, "test" -> 0.5), salt = "x")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(7L)._2 === viaLabel(7L)) // singleton: own id is the label
    assert(out(2L)._2 === viaLabel(1L)) // chain member: component min
  }

  test("cluster-proportional sample: per-cell rates over k-means assignment, deterministic") {
    import graft.functions.Sampling
    // two well-separated clusters on an axis; train k-means on them
    val rows = (0 until 400).map { i =>
      val base = if (i < 200) Array(10.0f, 0.0f) else Array(-10.0f, 0.0f)
      (f"v$i%03d", Array(base(0) + (i % 7) * 0.01f, base(1) + (i % 5) * 0.01f))
    }
    val config = graft.core.CollectionConfig("mix", 2, graft.core.Metric.L2)
    val df = graft.prepare.Prepare.prepareEmbeddings(embeddingRows(rows), config)
      .select("id", "vector").repartition(8)
    val cents = graft.ann.IvfIndex.trainOrdered(df, config,
      graft.ann.IvfIndex.IvfConfig(k = 2, iterations = 5), col("id"))
    val sampled = Sampling.clusterProportionalSample(df, "id", "vector", cents,
      fractions = Seq(0 -> 1.0, 1 -> 0.0), salt = "s")
    val got = sampled.collect().map(r => (r.getString(0), r.getAs[Int]("mix_cell")))
    // cell 0 kept entirely, cell 1 dropped entirely — and membership is
    // exactly the k-means assignment (one spatial cluster each)
    assert(got.nonEmpty && got.forall(_._2 === 0))
    val cell0Ids = df.withColumn("c", org.apache.spark.sql.graft.Bridge.column(
        graft.expr.IvfCell(org.apache.spark.sql.graft.Bridge.expression(col("vector")), cents)))
      .filter(col("c") === 0).select("id").collect().map(_.getString(0)).toSet
    assert(got.map(_._1).toSet === cell0Ids)
    // fractional rate on one cell: deterministic rerun, subset of cell
    val frac = Sampling.clusterProportionalSample(df, "id", "vector", cents,
      fractions = Seq(0 -> 0.5, 1 -> 0.0), salt = "s")
      .collect().map(_.getString(0)).toSet
    assert(frac.subsetOf(cell0Ids) && frac.nonEmpty && frac.size < cell0Ids.size)
    val again = Sampling.clusterProportionalSample(df, "id", "vector", cents,
      fractions = Seq(0 -> 0.5, 1 -> 0.0), salt = "s")
      .collect().map(_.getString(0)).toSet
    assert(again === frac)
  }

  test("per-group cap: keeps first N per group deterministically, pre-cuts map-side") {
    import graft.functions.Sampling
    val df = (0 until 500).map(i => (i.toLong, s"dom${i % 5}")).toDF("id", "dom")
      .repartition(8)
    val capped = Sampling.capPerGroup(df, "dom", 10, Seq(col("id")))
    val got = capped.collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got.keySet === (0 until 5).map(i => s"dom$i").toSet)
    // first 10 ids of each group in ascending order win
    for (d <- 0 until 5)
      assert(got(s"dom$d") === (0 until 10).map(j => (j * 5 + d).toLong))
    // the window group limit pre-cuts per-partition before the exchange
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
  }

  test("sequence packing: contiguous stream, correct bins, multi-partition determinism") {
    import graft.functions.Sampling
    val docs = (0 until 200).map(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("id", "n_tokens").repartition(8)
    val packed = Sampling.packSequences(docs, col("id"), "n_tokens", binSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    // stream is contiguous: each doc starts where the previous ended
    var expectStart = 0L
    for ((id, n, start, bin, off, endBin) <- packed) {
      assert(start === expectStart, s"doc $id")
      assert(bin === start / 10 && off === start % 10)
      assert(endBin === (if (n > 0) start + n - 1 else start) / 10)
      expectStart += n
    }
    // zero-length doc occupies no tokens but still lands deterministically
    val withZero = Seq((0L, 3L), (1L, 0L), (2L, 4L)).toDF("id", "n_tokens")
    val z = Sampling.packSequences(withZero, col("id"), "n_tokens", 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(5))).toMap
    assert(z(1L) === ((3L, 0L)))
    assert(z(2L)._1 === 3L)
    // rerun reproduces the identical layout
    val again = Sampling.packSequences(docs, col("id"), "n_tokens", binSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(again.toSeq === packed.map(p => (p._1, p._3)).toSeq)
  }

  test("multimodal: batch decode equals per-row stub; schema is typed") {
    val docs = Seq((1L, "hello world", "s"), (2L, "another payload text", "s"))
      .toDF("doc_id", "text", "source")
    val out = Multimodal.decodeImages(Multimodal.documentsAsMedia(docs), "payload",
      batchSize = 1).collect()
    assert(out.length === 2)
    val r = out.find(_.getLong(0) == 1L).get
    val expect = Multimodal.decodeImageStub("hello world".getBytes("UTF-8"))
    assert(r.getAs[Int]("width") === expect.getInt(0))
    assert(r.getAs[Int]("height") === expect.getInt(1))
    assert(r.getAs[Seq[Float]]("features") === expect.getSeq[Float](4))
    // frame sampling stub plumbing
    val frames = Multimodal.sampleFrameIndexes(
      Multimodal.documentsAsMedia(docs), "payload", stride = 3).collect()
    assert(frames.forall(_.getAs[Seq[Int]]("frame_indexes").forall(_ % 3 == 0)))
  }

  test("multimodal: real PNG decode recovers header dims and exact pixel sums") {
    // hand-checked 3x2 two-tone image: left 2 columns (10,20,30), right black
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, if (x < 2) (10 << 16) | (20 << 8) | 30 else 0)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val d = Multimodal.decodeImageReal(bos.toByteArray)
    assert((d.getInt(0), d.getInt(1), d.getInt(2)) === ((3, 2, 3)))
    assert((d.getLong(4), d.getLong(5), d.getLong(6)) === ((40L, 80L, 120L)))
    // BMP routes through the same ImageIO reader with identical pixels
    val bmp = Multimodal.encodeImageFixture(7L, "bmp")
    val png = Multimodal.encodeImageFixture(7L, "png")
    val (db, dp) = (Multimodal.decodeImageReal(bmp), Multimodal.decodeImageReal(png))
    assert(db.toSeq.take(3) === dp.toSeq.take(3))
    assert(db.toSeq.drop(4) === dp.toSeq.drop(4))
  }

  test("multimodal: distributed fixture encode+decode matches the spec arithmetic") {
    val docs = (0L until 20L).map(i => (i, s"t$i", "s")).toDF("doc_id", "text", "source")
    val out = Multimodal.decodeImagesReal(
      Multimodal.pngFixtures(docs, batchSize = 3), "payload", batchSize = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 20)
    for (id <- 0L until 20L) {
      val (w, h, r, g, b) = Multimodal.pngFixtureSpec(id)
      val row = out(id)
      val left = (w + 1) / 2
      assert(row.getAs[Int]("width") === w)
      assert(row.getAs[Int]("height") === h)
      assert(row.getAs[Int]("channels") === 3)
      assert(row.getAs[Long]("sum_r") === r.toLong * h * left)
      assert(row.getAs[Long]("sum_g") === g.toLong * h * left)
      assert(row.getAs[Long]("sum_b") === b.toLong * h * left)
    }
  }

  test("multimodal: real WAV decode recovers header and exact sample sum") {
    // hand-checked: 3 samples [100, -200, 300] at 8 kHz mono s16le
    val pcm = Array[Short](100, -200, 300).flatMap(s =>
      Array((s & 0xFF).toByte, ((s >> 8) & 0xFF).toByte))
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 3L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val d = Multimodal.decodeAudioReal(bos.toByteArray)
    assert((d.getInt(0), d.getInt(1), d.getLong(2), d.getLong(3)) ===
      ((8000, 1, 3L, 200L)))
    // distributed fixture roundtrip matches the spec arithmetic
    val docs = (0L until 12L).map(i => (i, s"t$i", "s")).toDF("doc_id", "text", "source")
    val out = Multimodal.decodeAudioReal(
      Multimodal.wavFixtures(docs, batchSize = 5), "payload", batchSize = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- 0L until 12L) {
      val (rate, n) = Multimodal.wavFixtureSpec(id)
      val expectSum = (0 until n).map(i => Multimodal.wavFixtureSample(id, i).toLong).sum
      val row = out(id)
      assert(row.getAs[Int]("sample_rate") === rate)
      assert(row.getAs[Int]("channels") === 1)
      assert(row.getAs[Long]("n_samples") === n.toLong)
      assert(row.getAs[Long]("sum_samples") === expectSum)
    }
  }

  test("multimodal: real animated-GIF frame sampling decodes true frames") {
    // hand-checked roundtrip: doc 3's fixture
    val (w, h, n) = Multimodal.gifFixtureSpec(3L)
    val frames = Multimodal.decodeVideoFrames(Multimodal.encodeGifFixture(3L), 1)
    assert(frames.length === n)
    for ((f, j) <- frames.zipWithIndex) {
      val (r, g, b) = Multimodal.gifFixtureColor(3L, j)
      assert((f.getInt(0), f.getInt(1), f.getInt(2), f.getInt(3)) === ((n, j, w, h)))
      assert((f.getLong(4), f.getLong(5), f.getLong(6)) ===
        ((r.toLong * w * h, g.toLong * w * h, b.toLong * w * h)))
    }
    // stride sampling emits every stride-th frame only
    val strided = Multimodal.decodeVideoFrames(Multimodal.encodeGifFixture(3L), 2)
    assert(strided.map(_.getInt(1)).toSeq === (0 until n by 2).toSeq)
    // distributed flatMap shape: one row per sampled frame
    val docs = (0L until 8L).map(i => (i, s"t$i", "s")).toDF("doc_id", "text", "source")
    val out = Multimodal.sampleVideoFrames(
      Multimodal.gifFixtures(docs, batchSize = 3), "payload", stride = 2, batchSize = 3)
      .collect()
    val expectRows = (0L until 8L).map { id =>
      val nf = Multimodal.gifFixtureSpec(id)._3; (nf + 1) / 2
    }.sum
    assert(out.length === expectRows)
  }

  test("multimodal: real bilinear resize — hand-computed weights, identity, batch shape") {
    import java.awt.image.BufferedImage
    // hand-computed 2x1 -> 4x1 upscale (align-corners=false, edge clamp,
    // round half-up): sx = -0.25->0, 0.25, 0.75, 1.25->1, so channel
    // values [a, 0.75a+0.25b, 0.25a+0.75b, b] = [100, 125, 175, 200]
    val two = new BufferedImage(2, 1, BufferedImage.TYPE_3BYTE_BGR)
    two.setRGB(0, 0, (100 << 16) | (100 << 8) | 100)
    two.setRGB(1, 0, (200 << 16) | (200 << 8) | 200)
    val up = Multimodal.bilinearResize(two, 4, 1)
    val got = (0 until 4).map(x => up.getRGB(x, 0) & 0xFF)
    assert(got === Seq(100, 125, 175, 200))
    // 2x2 -> 1x1: sx = sy = 0.5, all four weights 0.25 exactly
    val four = new BufferedImage(2, 2, BufferedImage.TYPE_3BYTE_BGR)
    four.setRGB(0, 0, 10); four.setRGB(1, 0, 20)
    four.setRGB(0, 1, 30); four.setRGB(1, 1, 41)
    val down = Multimodal.bilinearResize(four, 1, 1)
    assert((down.getRGB(0, 0) & 0xFF) === 25) // floor(25.25 + 0.5)
    // identity resize (tw == w) samples exactly at source centers:
    // sums must equal the decoded original's sums for every fixture
    for (id <- 0L until 20L) {
      val (w, h, _, _, _) = Multimodal.pngFixtureSpec(id)
      val payload = Multimodal.encodeImageFixture(id)
      val dec = Multimodal.decodeImageReal(payload)
      val res = Multimodal.resizeImageReal(payload, w, h)
      assert((res.getInt(0), res.getInt(1)) === ((w, h)))
      assert((res.getLong(2), res.getLong(3), res.getLong(4)) ===
        ((dec.getLong(4), dec.getLong(5), dec.getLong(6))), s"doc $id")
    }
    // resized payload is a real PNG: decoding it back reproduces the
    // resized dims and sums (lossless round-trip through the codec)
    val rr = Multimodal.resizeImageReal(Multimodal.encodeImageFixture(7L), 32, 32)
    val back = Multimodal.decodeImageReal(rr.getAs[Array[Byte]](5))
    assert((back.getInt(0), back.getInt(1)) === ((32, 32)))
    assert((back.getLong(4), back.getLong(5), back.getLong(6)) ===
      ((rr.getLong(2), rr.getLong(3), rr.getLong(4))))
    // distributed batch shape: batch size must not change results
    val docs = (0L until 9L).map(i => (i, s"t$i", "s")).toDF("doc_id", "text", "source")
    val media = Multimodal.pngFixtures(docs, batchSize = 4)
    def run(bs: Int) = Multimodal.resizeImagesReal(media, "payload", 16, 8, batchSize = bs)
      .select("doc_id", "resized_width", "resized_height",
        "resized_sum_r", "resized_sum_g", "resized_sum_b")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val b1 = run(1)
    assert(b1 === run(64))
    assert(b1.forall { case (_, w, h, _, _, _) => w === 16 && h === 8 })
  }

  test("multimodal: resize and audio decode are batch-invariant and typed") {
    val docs = Seq((1L, "hello world", "s"), (2L, "another payload text", "s"),
      (3L, "third document body here", "s")).toDF("doc_id", "text", "source")
    val media = Multimodal.documentsAsMedia(docs)
    // resize: bounded output, batch size must not change results
    val r1 = Multimodal.resizeImages(media, "payload", 32, 24, batchSize = 1)
      .select("doc_id", "resized_width", "resized_height", "resized_payload")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    val r2 = Multimodal.resizeImages(media, "payload", 32, 24, batchSize = 64)
      .select("doc_id", "resized_width", "resized_height", "resized_payload")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    assert(r1.toSeq === r2.toSeq)
    assert(r1.forall { case (_, w, h, p) => w === 32 && h === 24 && p.length === 32 * 24 * 3 })
    // audio: metadata derived from byte length, features deterministic
    val a = Multimodal.decodeAudio(media, "payload").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("sample_rate"),
        r.getAs[Long]("n_samples"), r.getAs[Double]("duration_s"),
        r.getAs[Seq[Float]]("audio_features"))).sortBy(_._1)
    val expect = Multimodal.decodeAudioStub("hello world".getBytes("UTF-8"))
    assert(a.head._2 === 16000)
    assert(a.head._3 === expect.getLong(1))
    assert(a.head._5 === expect.getSeq[Float](3))
    assert(a.head._4 === a.head._3.toDouble / 16000)
  }

  test("streaming windowed stats == batch windowed stats (AvailableNow)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), "view", 3.0))
    rows.toDF("ts", "event_type", "value").write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val streamDf = EventStreams.streamingWindowedStats(spark, dir, schema, "1 hour")
    EventStreams.runAvailableNow(streamDf, "win_test")
    val got = spark.sql("SELECT event_type, cnt, sum_value FROM win_test ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }
  test("multimodal: image dHash — hand-derived grids, invariances, banded near-dup pairs") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val g = gray(x, y)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 9x8 inputs hit the hash grid directly (the resize is identity):
    // a strictly DECREASING row sets every comparison bit, an
    // INCREASING row none — hand-derivable without touching the kernel
    assert(Multimodal.dHash(png(9, 8, (x, _) => 220 - x * 20)) === -1L)
    assert(Multimodal.dHash(png(9, 8, (x, _) => 20 + x * 20)) === 0L)
    // scale invariance: the same decreasing ramp at 2x resolution
    // resizes to a still-decreasing grid -> identical hash
    assert(Multimodal.dHash(png(18, 16, (x, _) => 220 - x * 10)) === -1L)
    // brightness invariance: +30 on every pixel flips no comparison
    val a = Multimodal.dHash(png(18, 16, (x, y) => 40 + ((x * 7 + y * 13) % 180)))
    val b = Multimodal.dHash(png(18, 16, (x, y) => 70 + ((x * 7 + y * 13) % 180)))
    assert(a === b)
    // near-dup pairs: original + slightly-perturbed copy pair up, an
    // unrelated pattern stays out
    val imgs = Seq(
      ("orig", png(18, 16, (x, _) => 220 - x * 10)),
      ("tweak", png(18, 16, (x, y) => math.max(0, 220 - x * 10 - (if (x == 3 && y == 2) 5 else 0)))),
      ("other", png(18, 16, (x, _) => if (x % 2 == 0) 220 else 20)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(imgs.map(t => org.apache.spark.sql.Row(t._1, t._2)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    val pairs = Multimodal.imageNearDuplicates(df, "id", "payload", maxHamming = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("orig", "tweak")))
  }

  test("multimodal: audio energy fingerprint — hand-derived contours, volume invariance, near-dup pairs") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      for (i <- samples.indices) {
        data(i * 2) = (samples(i) & 0xFF).toByte
        data(i * 2 + 1) = ((samples(i) >> 8) & 0xFF).toByte
      }
      val bos = new java.io.ByteArrayOutputStream
      val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // 65 frames x 64 samples, per-frame constant amplitude: strictly
    // decreasing contour -> every comparison bit; increasing -> none
    def contour(f: Int => Int): Array[Short] =
      (0 until 65).flatMap(fr => Array.fill(64)(f(fr).toShort)).toArray
    val down = contour(fr => (65 - fr) * 100)
    val up = contour(fr => (fr + 1) * 100)
    assert(Multimodal.audioFingerprint(wav(down)) === -1L)
    assert(Multimodal.audioFingerprint(wav(up)) === 0L)
    // uniform volume change flips no comparison
    val bumpy = contour(fr => 500 + ((fr * 37) % 400))
    assert(Multimodal.audioFingerprint(wav(bumpy.map(s => (s * 3).toShort)))
      === Multimodal.audioFingerprint(wav(bumpy)))
    // near-dup pairs: a lightly perturbed copy pairs with the original,
    // an unrelated contour stays out
    val tweak = bumpy.clone(); tweak(100) = (tweak(100) + 40).toShort
    val clips = Seq(("orig", wav(bumpy)), ("tweak", wav(tweak)),
      ("other", wav(up)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(clips.map(t => org.apache.spark.sql.Row(t._1, t._2)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    val pairs = Multimodal.audioNearDuplicates(df, "id", "payload", maxHamming = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("orig", "tweak")))
  }

  test("multimodal: video near-dup — shared frame pairs clips, disjoint clips stay out") {
    import java.awt.image.BufferedImage
    // two-tone frames survive GIF's palette quantization exactly
    def frame(phase: Int): BufferedImage = {
      val img = new BufferedImage(18, 16, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 16; x <- 0 until 18)
        img.setRGB(x, y, if ((x / 3 + phase) % 2 == 0) 0xDCDCDC else 0x141414)
      img
    }
    def gif(phases: Seq[Int]): Array[Byte] = {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
      val writer = it.next()
      val bos = new java.io.ByteArrayOutputStream
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        phases.foreach(p => writer.writeToSequence(
          new javax.imageio.IIOImage(frame(p), null, null),
          writer.getDefaultWriteParam))
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    // per-frame hashes are deterministic and phase-sensitive
    val h0 = Multimodal.videoFrameDHashes(gif(Seq(0, 1)), stride = 1)
    assert(h0.map(_._1) === Seq(0, 1) && h0(0)._2 != h0(1)._2)
    // clip A(0,1) and B(1,0) share BOTH frame patterns; clip C uses a
    // genuinely different pattern: solid frames (all comparisons equal
    // -> hash 0, far from any stripe hash)
    def solidGif(n: Int): Array[Byte] = {
      val it = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
      val writer = it.next()
      val bos = new java.io.ByteArrayOutputStream
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        (0 until n).foreach { _ =>
          val img = new BufferedImage(18, 16, BufferedImage.TYPE_3BYTE_BGR)
          for (y <- 0 until 16; x <- 0 until 18) img.setRGB(x, y, 0x808080)
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
            writer.getDefaultWriteParam)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    val clips = Seq(("a", gif(Seq(0, 1))), ("b", gif(Seq(1, 0))),
      ("c", solidGif(2)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(clips.map(t => org.apache.spark.sql.Row(t._1, t._2)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    val pairs = Multimodal.videoNearDuplicates(df, "id", "payload",
      maxHamming = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getInt(2))).toMap
    assert(pairs.keySet === Set(("a", "b")))
    assert(pairs(("a", "b")) === 0) // identical frame patterns, reordered
  }

  test("compression ratio: repetitive < prose < high-entropy; empty = 1; deterministic") {
    import graft.text.TextAnalysis
    val repetitive = ("spam ham " * 200).trim
    val prose = "The quick brown fox jumps over the lazy dog while seventeen " +
      "curious researchers measured how natural language compresses under " +
      "deflate compared to templated boilerplate and random noise in corpora. " * 4
    // deterministic pseudo-random hex: near-incompressible
    val entropy = (0 until 400).map(i =>
      f"${Synth.synthVector(i.toLong, 1)(0)}%.7f").mkString(" ")
    val df = Seq(("rep", repetitive), ("prose", prose), ("rand", entropy),
      ("empty", "")).toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.compressionRatio(col("text")).as("cr"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("empty") === 1.0)
    assert(out("rep") < out("prose") && out("prose") < out("rand"),
      s"ordering violated: $out")
    assert(out("rep") < 0.1 && out("rand") > 0.4)
    // bit-deterministic: a second evaluation reproduces every value
    val again = df.select(col("id"),
        TextAnalysis.compressionRatio(col("text")).as("cr"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again === out)
  }
}

/** Small helper to expose query preparation for the LSH spec. */
private object Search0 {
  def prepared(df: org.apache.spark.sql.DataFrame, config: CollectionConfig,
      q: Array[Float]): Array[Float] = graft.search.Search.prepareQuery(config, q)
}
