package graft

import scala.util.Random

import graft.core.{CollectionConfig, Metric}
import graft.expr.VectorKernels
import graft.prepare.Prepare
import graft.search.Search

/** Property-style oracle sweeps (reference test layer 1: every kernel
  * checked against an independent scalar oracle across metrics, dims,
  * limits — distances.rs:571-609, flat.rs:209-249). Seeded and
  * deterministic. */
class PropertySpec extends SparkSpec {

  private val rng = new Random(20260721)

  private def randVec(dims: Int): Array[Float] =
    Array.fill(dims)((rng.nextDouble() * 2 - 1).toFloat)

  test("kernels vs independent scalar oracles across dims 1..40") {
    for (dims <- Seq(1, 2, 3, 7, 8, 9, 15, 16, 17, 31, 40); _ <- 1 to 3) {
      val a = randVec(dims); val b = randVec(dims)
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      def close(x: Double, y: Double) = assert(math.abs(x - y) < 1e-9, s"dims=$dims")
      close(VectorKernels.distance(0, a, b),
        math.sqrt(ad.zip(bd).map(t => (t._1 - t._2) * (t._1 - t._2)).sum))
      close(VectorKernels.distance(3, a, b), ad.zip(bd).map(t => t._1 * t._2).sum)
      close(VectorKernels.distance(5, a, b), ad.zip(bd).map(t => math.abs(t._1 - t._2)).sum)
      close(VectorKernels.distance(6, a, b),
        ad.zip(bd).map(t => math.abs(t._1 - t._2)).max)
      // packed hamming == truthy sign hamming of thresholded vectors
      val pa = VectorKernels.packSignBits(a); val pb = VectorKernels.packSignBits(b)
      val expected = a.zip(b).count(t => (t._1 >= 0) != (t._2 >= 0)).toDouble
      close(VectorKernels.packedHamming(pa, pb, dims), expected)
      // l2-normalized vector has unit norm (or zero)
      val n = VectorKernels.normalize(1, a)
      val norm = math.sqrt(n.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-6 || norm == 0.0)
      // packed-f32 byte kernels: bit-exact vs the array kernels
      val packed = VectorKernels.packFloats(a)
      (0 to 9).foreach(code => assert(
        VectorKernels.distanceBytes(code, packed, b) ===
          VectorKernels.distance(code, a, b), s"dims=$dims code=$code"))
      assert(VectorKernels.unpackFloats(packed).toSeq === a.toSeq)
      // unrolled ranking kernels agree with sequential to fp tolerance
      Seq(0, 1, 2, 3, 4).foreach(code => close(
        VectorKernels.rankingDistanceOff(code, a, 0, b, 0, a.length),
        VectorKernels.distance(code, a, b)))
    }
  }

  test("distributed top-k vs driver-side full-sort oracle, all metrics x limits") {
    val dims = 6
    val rows = (0 until 80).map(i => f"r$i%02d" -> randVec(dims))
    for (metric <- Metric.all) {
      val config = CollectionConfig("p", dims, metric,
        normalize = Some(graft.core.Normalize.None))
      val coll = Prepare.prepareEmbeddings(embeddingRows(rows), config).cache()
      val q = randVec(dims)
      for (k <- Seq(1, 5, 17)) {
        val got = Search.flatSearch(coll, config, q, k)
          .collect().map(_.getString(0)).toSeq
        val oracle = rows.map { case (id, v) =>
          (Metric.rankValue(metric, VectorKernels.distance(metric.code, v, q)), id)
        }.sortBy(identity).take(k).map(_._2)
        assert(got === oracle, s"metric=${metric.name} k=$k")
      }
      coll.unpersist()
    }
  }

  test("bilinear resize: convexity, identity, constant-preservation over random images") {
    import java.awt.image.BufferedImage
    val rnd = new Random(20260813L)
    for (trial <- 0 until 30) {
      val w = 1 + rnd.nextInt(20); val h = 1 + rnd.nextInt(20)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      var mn = 255; var mx = 0
      for (y <- 0 until h; x <- 0 until w) {
        val v = rnd.nextInt(256)
        mn = math.min(mn, v); mx = math.max(mx, v)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val tw = 1 + rnd.nextInt(24); val th = 1 + rnd.nextInt(24)
      val out = graft.multimodal.Multimodal.bilinearResize(img, tw, th)
      assert(out.getWidth === tw && out.getHeight === th)
      // every output pixel is a rounded convex combination of inputs:
      // it must stay inside the source's [min, max] range
      for (y <- 0 until th; x <- 0 until tw) {
        val v = out.getRGB(x, y) & 0xFF
        assert(v >= mn && v <= mx, s"trial $trial: $v outside [$mn,$mx]")
      }
      // identity resize reproduces the image exactly (samples land on
      // source pixel centers, weights collapse to 1)
      val id = graft.multimodal.Multimodal.bilinearResize(img, w, h)
      for (y <- 0 until h; x <- 0 until w)
        assert((id.getRGB(x, y) & 0xFFFFFF) === (img.getRGB(x, y) & 0xFFFFFF))
    }
    // constant image -> constant at ANY target size (edge clamping must
    // not bleed anything else in)
    val const = new BufferedImage(5, 3, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 3; x <- 0 until 5) const.setRGB(x, y, (200 << 16) | (130 << 8) | 7)
    val big = graft.multimodal.Multimodal.bilinearResize(const, 17, 11)
    for (y <- 0 until 11; x <- 0 until 17)
      assert((big.getRGB(x, y) & 0xFFFFFF) === ((200 << 16) | (130 << 8) | 7))
  }

  test("MaxSim >= best single-vector similarity; monotone in query set") {
    val dims = 4
    for (_ <- 1 to 10) {
      val docs = Array.fill(3)(randVec(dims))
      val q1 = randVec(dims); val q2 = randVec(dims)
      val one = VectorKernels.maxSim(3, Array(q1), docs)
      val both = VectorKernels.maxSim(3, Array(q1, q2), docs)
      val bestPair = docs.map(d => VectorKernels.distance(3, q1, d)).max
      assert(math.abs(one - bestPair) < 1e-12)
      val two = VectorKernels.maxSim(3, Array(q2), docs)
      assert(math.abs(both - (one + two)) < 1e-12)
    }
  }

  test("round-10 kernel properties: bpe reassembly/idempotence, span-cut invariants") {
    import graft.text.Bpe
    val rnd = new Random(77)
    def randWord(): String =
      (0 until (1 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    // train on a random small-alphabet corpus so merges really fire
    val table = (0 until 30).map(_ => (randWord(), (1 + rnd.nextInt(9)).toLong))
      .groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
    val m = Bpe.trainLocal(table, numMerges = 25)
    for (_ <- 1 to 200) {
      val w = randWord()
      val toks = Bpe.encodeWord(w, m)
      // tokens reassemble the word + end marker, exactly
      assert(toks.mkString("") === w + Bpe.EndOfWord, s"word $w -> ${toks.toSeq}")
      // encoding is deterministic (idempotent across calls)
      assert(Bpe.encodeWord(w, m).toSeq === toks.toSeq)
      // token count never exceeds characters + marker
      assert(toks.length <= w.length + 1)
    }
    // span-cut invariants on random repetitive texts: output tokens are
    // a subsequence of the input; all-unique text is untouched
    import org.apache.spark.sql.functions.col
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val words = Seq("aa", "bb", "cc", "dd", "ee")
    val texts = (0 until 12).map { i =>
      (i.toString, (0 until 30).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    }
    val out = graft.dedup.Dedup.dropRepeatedSpans(
      texts.toDF("id", "text"), "id", col("text"), spanTokens = 4)
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    val byId = texts.toMap
    out.foreach { case (id, clean) =>
      val orig = byId(id).split(" ").toList
      val kept = if (clean.isEmpty) Nil else clean.split(" ").toList
      // subsequence check
      var rest = orig
      kept.foreach { t =>
        val at = rest.indexOf(t)
        assert(at >= 0, s"doc $id: '$t' not a subsequence token")
        rest = rest.drop(at + 1)
      }
    }
  }

  test("round-11 properties: funnel/rolling/pagerank vs independent references on random data") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams
    val steps = Seq("s0", "s1", "s2")
    val horizon = 50L
    for (trial <- 1 to 3) {
      // random event soup: 12 users x up to 30 events, ms-grid times
      val evs = (1 to 360).map { _ =>
        (rng.nextInt(12).toLong, s"s${rng.nextInt(4)}",
          (rng.nextInt(100) + 1).toLong * 1000000L)
      }
      // independent greedy reference per user
      val want = evs.filter(e => e._2 != "s3")
        .groupBy(_._1).flatMap { case (u, es) =>
          val sorted = es.map(e => (e._3 / 1000L, steps.indexOf(e._2)))
            .filter(_._2 >= 0).sortBy(t => (t._1, t._2))
          val t = Array.fill(3)(-1L)
          sorted.foreach { case (us, sidx) =>
            if (t(sidx) == -1L &&
                (sidx == 0 || (t(sidx - 1) != -1L && us > t(sidx - 1) &&
                 us <= t(0) + horizon * 1000000L)))
              t(sidx) = us
          }
          if (t(0) == -1L) None
          else Some(u -> ((t.map(x => if (x == -1L) None else Some(x)).toSeq,
            t.count(_ != -1L))))
        }
      val got = EventStreams.funnelSteps(
        evs.toDF("user_id", "event_type", "ts"), steps, horizon)
        .collect().map(r => r.getLong(0) ->
          (((1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])),
            r.getInt(4)))).toMap
      assert(got.keySet === want.keySet, s"trial $trial")
      want.foreach { case (u, (ts, d)) =>
        assert(got(u)._1 === ts && got(u)._2 === d, s"trial $trial user $u") }
      // rolling stats vs a scala sliding-window reference
      val revs = evs.zipWithIndex.map { case ((u, _, ns), i) =>
        (i.toLong, u, ns, rng.nextInt(100).toDouble) }
      val k = 1 + rng.nextInt(5)
      val gotR = EventStreams.rollingStats(
        revs.toDF("event_id", "user_id", "ts", "value"), k)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(3), r.getDouble(4), r.getDouble(6)))).toMap
      revs.groupBy(_._2).foreach { case (_, es) =>
        val sorted = es.sortBy(e => (e._3 / 1000L, e._1))
        sorted.indices.foreach { i =>
          val frame = sorted.slice(math.max(0, i - k + 1), i + 1)
          val (id, _, _, _) = sorted(i)
          assert(gotR(id)._1 === frame.length.toLong)
          assert(math.abs(gotR(id)._2 - frame.map(_._4).sum) < 1e-9)
          assert(gotR(id)._3 === frame.map(_._4).max)
        }
      }
      // pagerank on a random digraph vs the GraphSpec-style reference
      val edges = (1 to 30).map(_ =>
        (s"n${rng.nextInt(10)}", s"n${rng.nextInt(10)}")).distinct
        .filter(e => e._1 != e._2)
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val n = nodes.length.toDouble
      val outd = edges.groupBy(_._1).view.mapValues(_.length).toMap
      var pr = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to 4) {
        val c = edges.groupBy(_._2).view.mapValues(es =>
          es.map(e => pr(e._1) / outd(e._1)).sum).toMap
        val dm = nodes.filterNot(outd.contains).map(pr).sum
        pr = nodes.map(v =>
          v -> (0.15 / n + 0.85 * (c.getOrElse(v, 0.0) + dm / n))).toMap
      }
      val gotP = graft.graph.GraphOps.pageRank(edges.toDF("src", "dst"), 4)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(gotP.keySet === pr.keySet, s"trial $trial")
      pr.foreach { case (v, x) =>
        assert(math.abs(gotP(v) - x) < 1e-9, s"trial $trial node $v") }
    }
  }

  test("round-12 properties: batch funnel/hybrid per-query == single-query on random corpora") {
    import spark.implicits._
    // random corpora x metrics x knob points: every batch result set
    // (and its scores) must equal the single-query form per query —
    // the r12 flagship contract, swept past the hand-picked spec points
    for ((metric, trial) <- Seq(Metric.Cosine, Metric.L2,
        Metric.InnerProduct).zipWithIndex) {
      val dims = 12
      val config = CollectionConfig(s"p12_$trial", dims, metric)
      val rows = (0 until 120).map(i => (f"r$i%03d", randVec(dims)))
      val coll = Prepare.prepareEmbeddings(
        embeddingRows(rows), config).persist()
      val qs = (0 until 4).map(k => (s"q$k", randVec(dims)))
      val qdf = qs.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qvector")
      def key(r: org.apache.spark.sql.Row, off: Int) =
        (r.getString(off), math.rint(r.getDouble(off + 2) * 1e9) / 1e9)
      val stages = Seq(dims / 4, dims / 2, dims)
      for (cand <- Seq(15, 60)) {
        val mF = Search.funnelSearchMany(coll, config, qdf, 7, stages,
          cand, knownNq = 4L).collect().groupBy(_.getString(0))
        val mH = Search.hybridSearchMany(coll, config, qdf, 7,
          candidates = cand, stages = stages, knownNq = 4L)
          .collect().groupBy(_.getString(0))
        for ((qid, v) <- qs) {
          val sF = Search.funnelSearch(coll, config, v, 7, stages, cand)
            .collect().map(key(_, 0)).toSet
          assert(mF(qid).map(key(_, 1)).toSet === sF,
            s"funnel $metric cand=$cand $qid")
          val sH = Search.hybridSearch(coll, config, v, 7,
            candidates = cand, stages = stages)
            .collect().map(key(_, 0)).toSet
          assert(mH(qid).map(key(_, 1)).toSet === sH,
            s"hybrid $metric cand=$cand $qid")
        }
      }
      coll.unpersist()
    }
  }
}
