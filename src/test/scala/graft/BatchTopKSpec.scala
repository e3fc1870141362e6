package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CollectionConfig, Metric, Normalize}
import graft.expr.TopKHeap
import graft.search.Search

/** The heap cut's bit-exactness contract: [[TopKHeap]] must order
  * exactly like `ORDER BY (rank ASC, id ASC)` under Spark SQL's
  * semantics — `-0.0 == 0.0`, NaN last, and BINARY UTF-8 id ties (NOT
  * Java String UTF-16 order, which disagrees beyond the BMP) — so the
  * heap-cut batch plans return the rows per-query `Search.flatSearch`
  * (Spark's own `ORDER BY rank, id LIMIT k`) returns, for any orderable
  * id type. */
class BatchTopKSpec extends SparkSpec {
  import spark.implicits._

  private def sparkCmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  test("TopKHeap == sort-take under Spark double semantics (NaN, ±0.0, ±inf)") {
    val rnd = new scala.util.Random(7)
    val specials = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0, -1.0)
    for (trial <- 0 until 50; k <- Seq(1, 3, 8)) {
      val n = 1 + rnd.nextInt(40)
      val entries = Array.tabulate(n) { i =>
        val r = if (rnd.nextBoolean()) specials(rnd.nextInt(specials.length))
                else rnd.nextDouble() * 10 - 5
        (r, s"id${rnd.nextInt(12)}%03d$i")
      }
      val heap = new TopKHeap(k)
      entries.foreach { case (r, id) => heap.offer(r, r, UTF8String.fromString(id)) }
      // compare via bit patterns: tuple equality would fail on NaN == NaN
      val got = heap.sorted.map(t =>
        (java.lang.Double.doubleToLongBits(t._3), t._1.toString))
      val want = entries
        .sortWith { case ((r1, i1), (r2, i2)) =>
          val c = sparkCmp(r1, r2)
          c < 0 || (c == 0 && i1.compareTo(i2) < 0) // ASCII ids: UTF8==String order
        }.take(k).map { case (r, id) => (java.lang.Double.doubleToLongBits(r), id) }
      assert(got.toSeq === want.toSeq, s"trial $trial k=$k")
    }
  }

  test("TopKHeap generic ids: long-id heap == sort-take with native ordering; lazy growth reaches k") {
    val rnd = new scala.util.Random(13)
    val specials = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0, -1.0)
    for (trial <- 0 until 40; k <- Seq(1, 7, 50)) {
      // n > 16 with k = 50 exercises the geometric array growth (cap
      // starts at 16); duplicate ranks force long-id tie-breaks
      val n = 1 + rnd.nextInt(200)
      val entries = Array.tabulate(n) { _ =>
        val r = if (rnd.nextBoolean()) specials(rnd.nextInt(specials.length))
                else rnd.nextInt(5).toDouble // dense ties
        (r, rnd.nextLong() % 1000L)
      }
      val heap = new TopKHeap(k, TypeUtils.getInterpretedOrdering(LongType))
      entries.foreach { case (r, id) =>
        heap.offer(r, r, java.lang.Long.valueOf(id)) }
      val got = heap.sorted.map(t =>
        (java.lang.Double.doubleToLongBits(t._3),
          t._1.asInstanceOf[java.lang.Long].longValue()))
      val want = entries
        .sortWith { case ((r1, i1), (r2, i2)) =>
          val c = sparkCmp(r1, r2)
          c < 0 || (c == 0 && i1 < i2)
        }.take(k).map { case (r, id) => (java.lang.Double.doubleToLongBits(r), id) }
      assert(got.toSeq === want.toSeq, s"trial $trial k=$k")
    }
    // serialization round trip preserves ids of every kind through the
    // agg codec — and their tie order: the two entries of query 0 share
    // a rank, so only the id orders them
    val struct = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val cases: Seq[(DataType, Seq[Any], Any => Any)] = Seq(
      (LongType, Seq(42L, -7L, 3L).map(java.lang.Long.valueOf), identity),
      (DecimalType(20, 0), Seq("12345678901234567890", "-3", "99").map(v =>
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(v), 20, 0)),
        d => d.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal),
      (BinaryType, Seq(Array[Byte](0x7f), Array[Byte](0x80.toByte, 1), Array[Byte]()),
        b => b.asInstanceOf[Array[Byte]].toSeq),
      (struct, Seq(InternalRow(1, UTF8String.fromString("y")),
        InternalRow(1, UTF8String.fromString("x")), InternalRow(0, UTF8String.fromString("z"))),
        r => { val row = r.asInstanceOf[InternalRow]; (row.getInt(0), row.getUTF8String(1).toString) }))
    for ((dt, ids, key) <- cases) {
      val agg = graft.expr.BatchTopKAgg(null, null, 2, 3, 0, dt)
      val buf = agg.createAggregationBuffer()
      buf(0).offer(1.0, 1.0, ids(0)); buf(0).offer(1.0, 1.0, ids(1))
      buf(1).offer(2.0, 2.0, ids(2))
      val back = agg.deserialize(agg.serialize(buf))
      val ord = TypeUtils.getInterpretedOrdering(dt)
      val want0 = Seq(ids(0), ids(1)).sortWith(ord.lt).map(key)
      assert(back(0).sorted.map(t => key(t._1)).toSeq === want0, s"$dt query 0")
      assert(back(1).sorted.map(t => key(t._1)).toSeq === Seq(key(ids(2))), s"$dt query 1")
    }
  }

  test("LONG-id corpus: batch flat + MaxSim take the one-scan heap plan (no per-query jobs), native id tie order") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dims = 4
    val config = CollectionConfig("longid", dims, Metric.InnerProduct,
      normalize = Some(Normalize.None))
    // ids 2 and 10: identical vectors make the id the ONLY tiebreaker —
    // LONG order picks 2 first, string order would pick "10" first
    val docs = (Seq((2L, "a"), (10L, "b")) ++
      (20L until 40L).map(i => (i, s"v$i"))).map { case (id, v) =>
        val vec = if (id == 2L || id == 10L) Seq(1f, 0f, 0f, 0f)
                  else Seq(0.1f, 0.2f, 0.1f * (id % 3), 0f)
        (id, v, vec, Seq(vec))
      }.toDF("id", "value", "vector", "vectors")
    val nq = 32
    val qs = (0 until nq).map(i => (i.toString, Seq(1f, 0f, 0f, 0.01f * i)))
      .toDF("qid", "qvector")
    val qsets = (0 until nq).map(i =>
      (i.toString, Seq(Seq(1f, 0f, 0f, 0.01f * i)))).toDF("qid", "qvectors")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // heap plan reachable: the plan itself proves one-scan
    val flat = Search.flatSearchMany(docs, config, qs, 1, knownNq = nq.toLong)
    assert(flat.queryExecution.executedPlan.toString.contains("BatchTopKExec"),
      "long-id flat batch must take the heap plan")
    spark.sparkContext.addSparkListener(listener)
    val (flatRows, msRows) =
      try {
        val f = flat.collect()
        val m = Search.multiVectorSearchMany(docs, config, qsets, 1).collect()
        Thread.sleep(500) // listener bus delivers job-start events async
        (f, m)
      } finally spark.sparkContext.removeSparkListener(listener)
    // job count must not scale with the 32 queries (the old fallback ran
    // one plan per query); one-scan plans need only a handful of jobs
    // (query collect + broadcast builds + final collect, x2 searches)
    assert(jobs.get <= 12, s"expected O(1) jobs for $nq queries, got ${jobs.get}")
    assert(flatRows.length === nq && msRows.length === nq)
    // every query's top-1 is id=2 (LONG tie order, not string order)
    assert(flatRows.forall(_.getLong(1) === 2L),
      "flat batch must break rank ties by NATIVE long id order")
    assert(msRows.forall(_.getLong(1) === 2L),
      "batch MaxSim must break rank ties by NATIVE long id order")
    // and per-query equality with the single forms on the long-id corpus
    val single = Search.flatSearch(docs, config, Array(1f, 0f, 0f, 0f), 1)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).head
    val batchQ0 = flatRows.find(_.getString(0) == "0").get
    assert((batchQ0.getLong(1), batchQ0.getDouble(3)) === single)
  }

  test("batch and single-query searches drop null id / null vector rows") {
    val dims = 4
    val config = CollectionConfig("nulls", dims, Metric.L2,
      normalize = Some(Normalize.None))
    // 3 scorable rows + a null-id row + a null-vector row; limit ABOVE
    // the scorable count is the exact failure shape: a cut that kept
    // null rows would fill the empty slots with them (and a null id
    // sorts FIRST on rank ties, asc = nulls first)
    val rows: Seq[(String, String, Seq[Float])] = Seq(
      ("a", "a", Seq(1f, 0f, 0f, 0f)), ("b", "b", Seq(0f, 1f, 0f, 0f)),
      ("c", "c", Seq(0f, 0f, 1f, 0f)),
      (null, "null-id", Seq(1f, 0f, 0f, 0f)), ("nv", "nv", null))
    val coll = rows.toDF("id", "value", "vector")
    // multi-vector variant: the null-id row TIES the best row's score
    // (score desc, id asc = nulls first would put it FIRST), and the
    // null-vector row has no token set at all (NULL `vectors` and NULL
    // `vector`); a null element inside a token set is out of the
    // validated multi-vector contract
    val mv = coll.withColumn("vectors",
      when(col("vector").isNotNull, array(col("vector"))))
    val q = Array(1f, 0f, 0f, 0f)
    val qs = Seq(("q0", q.toSeq)).toDF("qid", "qvector")
    val qsets = Seq(("q0", Seq(q.toSeq))).toDF("qid", "qvectors")
    def ids(df: org.apache.spark.sql.DataFrame, idCol: Int): Seq[String] =
      df.collect().map(_.getString(idCol)).sorted.toSeq
    val batch = Seq(
      "flat" -> ids(Search.flatSearchMany(coll, config, qs, 5, knownNq = 1L), 1),
      "maxsim" -> ids(Search.multiVectorSearchMany(mv, config, qsets, 5), 1),
      "maxsim (no vectors column)" ->
        ids(Search.multiVectorSearchMany(coll, config, qsets, 5), 1),
      "quantized" -> ids(Search.quantizedSearchMany(coll, config, qs, 5,
        candidates = 5, knownNq = 1L), 1),
      "funnel" -> ids(Search.funnelSearchMany(coll, config, qs, 5,
        candidates = 5, knownNq = 1L), 1))
    val packed = graft.prepare.Prepare.withBf16Vector(
      graft.prepare.Prepare.withPackedVector(coll))
    val single = Seq(
      "flatSearch" -> ids(Search.flatSearch(coll, config, q, 5), 0),
      "flatSearchAfter" -> ids(Search.flatSearchAfter(coll, config, q, 5,
        afterDistance = -1.0, afterId = ""), 0),
      "flatSearchPacked" -> ids(Search.flatSearchPacked(packed, config, q, 5), 0),
      "flatSearchBf16" -> ids(Search.flatSearchBf16(packed, config, q, 5), 0),
      "multiVectorSearch" -> ids(Search.multiVectorSearch(mv, config, Seq(q), 5), 0),
      "multiVectorSearch (no vectors column)" ->
        ids(Search.multiVectorSearch(coll, config, Seq(q), 5), 0))
    for ((form, got) <- batch ++ single)
      assert(got === Seq("a", "b", "c"), s"null rows leaked into $form results")
  }

  test("heap cut == flatSearch on ties, incl. non-BMP ids (UTF-16 vs UTF-8 order)") {
    val dims = 4
    val config = CollectionConfig("tie", dims, Metric.L2,
      normalize = Some(Normalize.None))
    // FULLWIDTH A (U+FF21, UTF-8 EF BC A1) vs an emoji (surrogate pair,
    // UTF-8 F0 9F 98 80): Java String order says emoji FIRST, Spark's
    // binary UTF-8 order says fullwidth-A first — identical vectors make
    // the id the ONLY tiebreaker
    val v = Seq(1f, 0f, 0f, 0f)
    val ids = Seq("\uFF21pad", "\uD83D\uDE00pad", "zz", "aa", "mm")
    val coll = ids.map(id => (id, id, v)).toDF("id", "value", "vector")
    val qs = Seq(("q0", v)).toDF("qid", "qvector")
    def viaHeap(k: Int): Set[String] =
      Search.flatSearchMany(coll, config, qs, k, knownNq = 1L)
        .collect().map(_.getString(1)).toSet
    def viaSort(k: Int): Set[String] =
      Search.flatSearch(coll, config, v.toArray, k).collect().map(_.getString(0)).toSet
    // the top-3 under binary UTF-8 order: aa, mm, zz sort BEFORE both
    // multi-byte ids (all start with sub-0x80 bytes)
    assert(viaHeap(3) === viaSort(3))
    assert(viaHeap(3) === Set("aa", "mm", "zz"))
    // and with k=4 the fullwidth A (EF...) must beat the emoji (F0...)
    val top4 = viaHeap(4)
    assert(top4 === viaSort(4))
    assert(top4.contains("\uFF21pad") && !top4.contains("\uD83D\uDE00pad"),
      "binary UTF-8 tie order must pick the fullwidth-A id over the emoji id")
  }

  test("decimal, binary and struct ids take the heap cut; rows == single-query search") {
    val dims = 3
    val config = CollectionConfig("ids", dims, Metric.L2,
      normalize = Some(Normalize.None))
    val struct = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    // 12 ids per type, four per unit-vector group: a query equal to its
    // group's vector ties four rows at distance 0, so k = 2 is decided
    // by the id order alone (unsigned bytes for binary, numeric for
    // decimal, field by field for struct)
    val idSets: Seq[(String, DataType, Seq[Any])] = Seq(
      ("decimal", DecimalType(20, 0), (0 until 12).map(i =>
        new java.math.BigDecimal(if (i % 2 == 0) f"123456789012345678$i%02d" else s"-$i"))),
      ("binary", BinaryType, (0 until 12).map(i =>
        if (i % 3 == 0) Array[Byte]((0x80 + i).toByte) else Array[Byte](0, i.toByte))),
      ("struct", struct, (0 until 12).map(i => Row(i % 2, s"s${11 - i}"))))
    val unit = (g: Int) => Seq.tabulate(dims)(j => if (j == g) 1f else 0f)
    def key(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    // qid types beyond string: each batch must hand back the qid it was
    // given, whatever its type
    val qidKinds: Seq[(String, DataType, Int => Any)] = Seq(
      ("string", StringType, g => s"q$g"),
      ("decimal", DecimalType(22, 2), g => new java.math.BigDecimal(s"98765432109876543$g.25")),
      ("struct", struct, g => Row(g, s"q$g")))
    for ((name, idType, ids) <- idSets) {
      val schema = StructType(Seq(StructField("id", idType), StructField("value", StringType),
        StructField("vector", ArrayType(FloatType)),
        StructField("vectors", ArrayType(ArrayType(FloatType)))))
      val docs = spark.createDataFrame(java.util.Arrays.asList(ids.zipWithIndex.map {
        case (id, i) => Row(id, s"v$i", unit(i % 3), Seq(unit(i % 3))) }: _*), schema)
        .repartition(3)
      val wants = (0 until 3).map { g =>
        val q = unit(g).toArray
        val wantFlat = Search.flatSearch(docs, config, q, 2).collect()
          .map(r => (key(r.get(0)), r.get(3))).toSet
        val wantMs = Search.multiVectorSearch(docs, config, Seq(q), 2).collect()
          .map(r => (key(r.get(0)), r.get(2))).toSet
        assert(wantFlat.size === 2 && wantMs.size === 2)
        (wantFlat, wantMs)
      }
      // every qid type resolves through the block's literal qid array
      for ((qidName, qidType, qid) <- qidKinds) {
        def frame(payload: DataType, v: Int => Any) = spark.createDataFrame(
          java.util.Arrays.asList((0 until 3).map(g => Row(qid(g), v(g))): _*),
          StructType(Seq(StructField("qid", qidType), StructField("q", payload))))
        val qs = frame(ArrayType(FloatType), unit).withColumnRenamed("q", "qvector")
        val qsets = frame(ArrayType(ArrayType(FloatType)), g => Seq(unit(g)))
          .withColumnRenamed("q", "qvectors")
        val flat = Search.flatSearchMany(docs, config, qs, 2)
        val ms = Search.multiVectorSearchMany(docs, config, qsets, 2)
        for ((form, df) <- Seq("flat" -> flat, "maxsim" -> ms))
          assert(df.queryExecution.executedPlan.toString.contains("BatchTopKExec"),
            s"$name-id $form batch must take the heap plan")
        val flatRows = flat.collect(); val msRows = ms.collect()
        for (g <- 0 until 3) {
          def batchOf(rows: Array[Row], score: Int) =
            rows.filter(_.get(0) == qid(g))
              .map(r => (key(r.get(1)), r.get(score))).toSet
          val (wantFlat, wantMs) = wants(g)
          assert(batchOf(flatRows, 4) === wantFlat, s"$name-id $qidName-qid flat q$g")
          assert(batchOf(msRows, 3) === wantMs, s"$name-id $qidName-qid maxsim q$g")
        }
      }
    }
  }

  test("final batch cuts scan the corpus once, with no broadcast join; value and metadata come back unchanged") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val dims = 4
    val config = CollectionConfig("onepass", dims, Metric.L2,
      normalize = Some(Normalize.None))
    val unit = (g: Int) => Seq.tabulate(dims)(j => if (j == g) 1f else 0f)
    // row "n" holds a NULL value and is query 0's nearest row; metadata
    // maps differ per row, one of them NULL
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("value", StringType), StructField("vector", ArrayType(FloatType)),
      StructField("vectors", ArrayType(ArrayType(FloatType))),
      StructField("metadata", MapType(StringType, StringType))))
    val rows = (0 until 12).map { i =>
      val v = unit(i % dims).zipWithIndex.map { case (x, j) =>
        if (j == (i + 1) % dims) x + 0.01f * i else x }
      Row(if (i == 0) "n" else f"r$i%02d", if (i == 0) null else s"v$i", v, Seq(v),
        if (i == 5) null else Map("row" -> i.toString, "group" -> (i % dims).toString))
    }
    val corpus = graft.prepare.Prepare.withBf16Vector(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema).repartition(3)).cache()
    try {
      corpus.count()
      val qs = (0 until 3).map(g => (s"q$g", unit(g))).toDF("qid", "qvector")
      val qsets = (0 until 3).map(g => (s"q$g", Seq(unit(g)))).toDF("qid", "qvectors")
      val helper = new AdaptiveSparkPlanHelper {}
      def assertOnePass(form: String, df: org.apache.spark.sql.DataFrame): Array[Row] = {
        val out = df.collect()
        // after collect, the adaptive plan is final
        val plan: SparkPlan = df.queryExecution.executedPlan
        val scans = helper.collect(plan) { case s: InMemoryTableScanExec => s }
        assert(scans.size === 1, s"$form must scan the corpus once:\n$plan")
        assert(helper.collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty,
          s"$form must not join:\n$plan")
        out
      }
      val flat = assertOnePass("flatSearchMany", Search.flatSearchMany(corpus, config, qs, 3))
      val bf16 = assertOnePass("flatSearchManyBf16",
        Search.flatSearchManyBf16(corpus, config, qs, 3))
      val ms = assertOnePass("multiVectorSearchMany",
        Search.multiVectorSearchMany(corpus, config, qsets, 3))
      def batchOf(out: Array[Row], g: Int, cols: Seq[Int]): Set[Seq[Any]] =
        out.filter(_.getString(0) == s"q$g").map(r => cols.map(r.get)).toSet
      def singleOf(df: org.apache.spark.sql.DataFrame, cols: Seq[Int]): Set[Seq[Any]] =
        df.collect().map(r => cols.map(r.get)).toSet
      for (g <- 0 until 3) {
        val q = unit(g).toArray
        // (id, value, score, distance)
        val wantFlat = singleOf(Search.flatSearch(corpus, config, q, 3), Seq(0, 1, 2, 3))
        assert(batchOf(flat, g, Seq(1, 2, 3, 4)) === wantFlat, s"flat q$g")
        val wantBf16 = singleOf(Search.flatSearchBf16(corpus, config, q, 3), Seq(0, 1, 2, 3))
        assert(batchOf(bf16, g, Seq(1, 2, 3, 4)) === wantBf16, s"bf16 q$g")
        // (id, value, score, metadata)
        val wantMs = singleOf(Search.multiVectorSearch(corpus, config, Seq(q), 3),
          Seq(0, 1, 2, 5))
        assert(batchOf(ms, g, Seq(1, 2, 3, 6)) === wantMs, s"maxsim q$g")
      }
      // the planted payloads: a NULL value and a NULL metadata map win as is
      assert(flat.exists(r => r.getString(1) == "n" && r.isNullAt(2)))
      assert(ms.exists(r => r.getString(1) == "n" && r.isNullAt(2) &&
        r.getMap[String, String](6) == Map("row" -> "0", "group" -> "0")))
      assert(ms.exists(r => r.getString(1) == "r05" && r.isNullAt(6)))
    } finally corpus.unpersist()
  }

  /** 16 rows over 4 unit directions: rows i and i + 8 share a vector,
    * so each of the 4 queries ties two pairs of rows, and k = 3 is
    * decided by the id order. Row "n" holds a NULL value and row r05 a
    * NULL metadata map; `vectors` and `vector_bf16` serve the MaxSim and
    * bf16 forms. */
  private def tieCorpus(session: org.apache.spark.sql.SparkSession,
      extra: Seq[Row] = Nil): org.apache.spark.sql.DataFrame = {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("value", StringType), StructField("vector", ArrayType(FloatType)),
      StructField("vectors", ArrayType(ArrayType(FloatType))),
      StructField("metadata", MapType(StringType, StringType))))
    val rows = (0 until 16).map { i =>
      val g = i % 4
      val v = Seq.tabulate(4)(j =>
        if (j == g) 1f else if (j == (g + 1) % 4) 0.05f * ((i / 4) % 2) else 0f)
      Row(if (i == 0) "n" else f"r$i%02d", if (i == 0) null else s"v$i", v, Seq(v),
        if (i == 5) null else Map("row" -> i.toString))
    } ++ extra
    // three partitions and no exchange: a cached copy scans with no
    // adaptive plan around it
    graft.prepare.Prepare.withBf16Vector(session.createDataFrame(
      session.sparkContext.parallelize(rows, 3), schema))
  }

  private val tieConfig = CollectionConfig("ties", 4, Metric.L2,
    normalize = Some(Normalize.None))

  private def tieQueries(session: org.apache.spark.sql.SparkSession)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val unit = (g: Int) => Seq.tabulate(4)(j => if (j == g) 1f else 0f)
    val qSchema = StructType(Seq(StructField("qid", StringType),
      StructField("qvector", ArrayType(FloatType))))
    val setSchema = StructType(Seq(StructField("qid", StringType),
      StructField("qvectors", ArrayType(ArrayType(FloatType)))))
    (session.createDataFrame(java.util.Arrays.asList(
      (0 until 4).map(g => Row(s"q$g", unit(g))): _*), qSchema),
      session.createDataFrame(java.util.Arrays.asList(
        (0 until 4).map(g => Row(s"q$g", Seq(unit(g)))): _*), setSchema))
  }

  /** The three final batch cuts over `corpus`. */
  private def finalCuts(corpus: org.apache.spark.sql.DataFrame, k: Int)
      : Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val (qs, qsets) = tieQueries(corpus.sparkSession)
    Seq("flatSearchMany" -> Search.flatSearchMany(corpus, tieConfig, qs, k),
      "flatSearchManyBf16" -> Search.flatSearchManyBf16(corpus, tieConfig, qs, k),
      "multiVectorSearchMany" -> Search.multiVectorSearchMany(corpus, tieConfig, qsets, k))
  }

  private def execOf(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[graft.expr.BatchTopKExec] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case e: graft.expr.BatchTopKExec => e }

  /** `df.collect()` with the Spark jobs it ran and the shuffle bytes
    * their tasks wrote, counted by a listener on a job group. */
  private def collectCounted(df: org.apache.spark.sql.DataFrame, group: String)
      : (Array[Row], Int, Long) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet(); js.stageIds.foreach(stages.add)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ended.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try {
        spark.sparkContext.setJobGroup(group, group)
        try df.collect() finally spark.sparkContext.clearJobGroup()
      } finally {
        // the listener bus delivers asynchronously
        var waited = 0
        while (ended.get < jobs.get && waited < 50) { Thread.sleep(100); waited += 1 }
        Thread.sleep(200)
        spark.sparkContext.removeSparkListener(listener)
      }
    (rows, jobs.get, shuffleBytes.get)
  }

  private def rowKey(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).sorted.toSeq

  test("a collected batch search is one Spark job with no shuffle and no adaptive wrapper") {
    val corpus = tieCorpus(spark).cache()
    try {
      corpus.count()
      for ((form, df) <- finalCuts(corpus, 3)) {
        val (rows, jobs, shuffleBytes) = collectCounted(df, s"one-job-$form")
        assert(rows.length === 12, form)
        assert(jobs === 1, s"$form ran $jobs jobs")
        assert(shuffleBytes === 0L, s"$form shuffled $shuffleBytes bytes")
        val plan = df.queryExecution.executedPlan
        assert(!plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
          s"$form must not be wrapped for adaptive execution:\n$plan")
        assert(plan.isInstanceOf[graft.expr.BatchTopKExec],
          s"$form: the cut must absorb the result projection:\n$plan")
        assert(plan.missingInput.isEmpty &&
          !plan.treeString.linesIterator.exists(_.dropWhile(" :+-".contains(_)).startsWith("!")),
          s"$form: missing-input marker in\n${plan.treeString}")
      }
    } finally corpus.unpersist()
  }

  test("a query batch of local rows, renamed by toDF or not, is read without a SQL execution") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val corpus = tieCorpus(spark)
    val (local, _) = tieQueries(spark)
    val renamed = local.collect().toSeq.map(r => (r.getString(0), r.getSeq[Float](1)))
      .toDF("qid", "qvector")
    assert(renamed.queryExecution.analyzed match {
      case Project(_, _: LocalRelation) => true
      case _ => false
    }, renamed.queryExecution.analyzed.treeString)
    val dir = java.nio.file.Files.createTempDirectory("graft_local_queries").toString
    local.write.mode("overwrite").parquet(dir)
    val runs = Seq("createDataFrame" -> local, "toDF" -> renamed,
        "parquet" -> spark.read.parquet(dir)).map { case (form, qs) =>
      // building the search reads the query batch on the driver
      val executions = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
          case _ =>
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val df =
        try Search.flatSearchMany(corpus, tieConfig, qs, 3)
        finally {
          Thread.sleep(500) // the listener bus delivers asynchronously
          spark.sparkContext.removeSparkListener(listener)
        }
      (form, executions.get, rowKey(df.collect()))
    }
    for ((form, n, _) <- runs.init) assert(n === 0, s"$form ran $n SQL executions")
    assert(runs.last._2 >= 1, "a parquet batch is collected by a SQL execution")
    assert(runs.head._3.size === 12)
    assert(runs.map(_._3).distinct.size === 1, "the three batches return the same rows")
  }

  test("a collect whose partial buffers exceed mergeSingleMaxEntries merges in one task, not on the driver") {
    val corpus = tieCorpus(spark).cache()
    try {
      corpus.count()
      val want = finalCuts(corpus, 3).map { case (f, df) => f -> rowKey(df.collect()) }
      // nq × k = 4 × 3 = 12 fits the bound, so the heap node is planned;
      // 3 partitions × 12 = 36 partial entries do not, so the driver
      // must not take the buffers as task results
      spark.conf.set("spark.graft.batch.mergeSingleMaxEntries", "20")
      try {
        for (((form, df), (_, rows)) <- finalCuts(corpus, 3).zip(want)) {
          assert(execOf(df.queryExecution.executedPlan).size === 1,
            s"$form must still take the heap node")
          val (got, jobs, shuffleBytes) = collectCounted(df, s"fallback-$form")
          assert(jobs === 1, s"$form ran $jobs jobs")
          assert(shuffleBytes > 0L, s"$form must shuffle its partial buffers to one task")
          assert(rowKey(got) === rows, s"$form rows through the merge task")
        }
      } finally spark.conf.unset("spark.graft.batch.mergeSingleMaxEntries")
    } finally corpus.unpersist()
  }

  test("rows through doExecute (sort, count, union, rerank joins) equal rows through collect, ties and NULL payloads included") {
    val corpus = tieCorpus(spark)
    for ((form, df) <- finalCuts(corpus, 3)) {
      val collected = df.collect()
      assert(collected.length === 12, form)
      assert(execOf(df.queryExecution.executedPlan).nonEmpty, form)
      val sorted = df.orderBy("qid", "id").collect()
      assert(rowKey(sorted) === rowKey(collected), s"$form through a sort")
      assert(df.count() === 12L, s"$form count")
      val again = finalCuts(corpus, 3).toMap.apply(form)
      assert(rowKey(df.unionByName(again).collect()) === rowKey(collected ++ collected),
        s"$form through a union")
      // the planted NULL payloads come back as they are
      assert(collected.exists(r => r.getString(1) == "n" && r.isNullAt(2)), form)
    }
    val ms = finalCuts(corpus, 3).last._2.collect()
    assert(ms.exists(r => r.getString(1) == "r05" && r.isNullAt(6)))
    // candidate cuts under the rerank joins: with candidates >= corpus
    // rows every row reaches the exact rerank, so the rows equal the
    // collected flat cut
    val (qs, _) = tieQueries(spark)
    val flat = rowKey(Search.flatSearchMany(corpus, tieConfig, qs, 3)
      .select("qid", "id", "value", "score", "distance", "metric").collect())
    val quant = Search.quantizedSearchMany(corpus, tieConfig, qs, 3, candidates = 16)
    val funnel = Search.funnelSearchMany(corpus, tieConfig, qs, 3, stages = Seq(2, 4),
      candidates = 16)
    for ((form, df) <- Seq("quantized" -> quant, "funnel" -> funnel)) {
      assert(rowKey(df.collect()) === flat, s"$form rerank over the heap candidates")
      assert(execOf(df.queryExecution.executedPlan).nonEmpty, s"$form candidate cut")
    }
  }

  test("the heap node is planned in a fresh session, its strategy registered once") {
    import graft.expr.BatchTopKStrategy
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(BatchTopKStrategy))
    val corpus = tieCorpus(fresh)
    val first = finalCuts(corpus, 3)
    val second = finalCuts(corpus, 3)
    assert(fresh.experimental.extraStrategies.count(_ == BatchTopKStrategy) === 1)
    val want = finalCuts(tieCorpus(spark), 3)
    for (i <- first.indices) {
      val ((form, a), (_, b), (_, w)) = (first(i), second(i), want(i))
      assert(execOf(a.queryExecution.executedPlan).nonEmpty, s"$form in a fresh session")
      val rows = rowKey(a.collect())
      assert(rows === rowKey(b.collect()), form)
      assert(rows === rowKey(w.collect()), form)
    }
  }

  test("above mergeSingleMaxEntries the two-level plan runs and returns the same rows") {
    val corpus = tieCorpus(spark)
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] = rowKey(df.collect())
    val single = finalCuts(corpus, 3).map { case (f, df) => f -> key(df) }
    spark.conf.set("spark.graft.batch.mergeSingleMaxEntries", "1")
    try {
      for (((form, df), (_, want)) <- finalCuts(corpus, 3).zip(single)) {
        val plan = df.queryExecution.executedPlan
        assert(execOf(plan).isEmpty && plan.toString.contains("partial_batch_topk"),
          s"$form must take the two-level aggregate:\n$plan")
        assert(key(df) === want, s"$form two-level rows")
      }
    } finally spark.conf.unset("spark.graft.batch.mergeSingleMaxEntries")
  }

  test("BatchTopKExec metrics: rows offered = scorable rows, output = nq x min(k, rows)") {
    // a NULL-id row and a NULL-vector row are not scorable
    val extra = Seq(Row(null, "x", Seq(1f, 0f, 0f, 0f), null, null),
      Row("nv", "y", null, null, null))
    val corpus = tieCorpus(spark, extra)
    val (qs, _) = tieQueries(spark)
    for (k <- Seq(3, 40)) {
      val df = Search.flatSearchMany(corpus, tieConfig, qs, k)
      val rows = df.collect()
      val exec = execOf(df.queryExecution.executedPlan)
      assert(exec.size === 1)
      val m = exec.head.metrics
      assert(m("rowsOffered").value === 16L, s"k=$k")
      assert(m("numOutputRows").value === 4L * math.min(k, 16), s"k=$k")
      assert(rows.length.toLong === m("numOutputRows").value)
      // every partition's partial heaps reach the merge: at least the
      // winners, at most partitions x nq x k entries
      assert(m("partialEntries").value >= m("numOutputRows").value &&
        m("partialEntries").value <= 3L * 4 * math.min(k, 16), s"k=$k")
      assert(m("mergeTime").value >= 0L)
      // the kernel's time, taken once per block of scored rows
      assert(m("scanTime").value > 0L, s"k=$k")
    }
  }

  test("the exact plan's heap node scores the cached corpus itself: a bare in-memory scan, no generated-code stage, no _ds column") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val corpus = tieCorpus(spark).cache()
    try {
      corpus.count()
      val (qs, _) = tieQueries(spark)
      for ((form, df, input) <- Seq(
          ("flatSearchMany", Search.flatSearchMany(corpus, tieConfig, qs, 3), "vector"),
          ("flatSearchManyBf16", Search.flatSearchManyBf16(corpus, tieConfig, qs, 3),
            "vector_bf16"))) {
        assert(df.collect().length === 12, form)
        val plan = df.queryExecution.executedPlan
        val exec = execOf(plan)
        assert(exec.size === 1, s"$form:\n$plan")
        assert(exec.head.child.isInstanceOf[InMemoryTableScanExec], s"$form:\n$plan")
        assert(exec.head.child.output.map(_.name) === Seq("id", "value", input), form)
        assert(plan.collect { case w: WholeStageCodegenExec => w }.isEmpty, s"$form:\n$plan")
        assert(!plan.treeString.contains("_ds"), s"$form:\n$plan")
      }
    } finally corpus.unpersist()
  }

  test("block scoring returns the single-query rows and the per-row two-level rows (ties, NULL rows, partitions not a multiple of the block)") {
    val dims = 8
    val rnd = new scala.util.Random(5)
    val base = Array.fill(12)(Array.fill(dims)(rnd.nextFloat() * 2 - 1).toSeq)
    // each vector is shared by 5-6 rows, so rank ties are decided by id;
    // a NULL-id and a NULL-vector row sit in the middle partition
    val rows = (0 until 61).map(i =>
      Row(f"r${(i * 37) % 61}%02d", s"v$i", base(i % 12), Seq(base(i % 12))))
    val parts = Seq(rows.take(23),
      rows.slice(23, 30) ++ Seq(Row(null, "null-id", base(0), Seq(base(0))),
        Row("nv", "nv", null, null)) ++ rows.slice(30, 40),
      rows.drop(40))
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("value", StringType), StructField("vector", ArrayType(FloatType)),
      StructField("vectors", ArrayType(ArrayType(FloatType)))))
    val corpus = graft.prepare.Prepare.withBf16Vector(spark.createDataFrame(
      spark.sparkContext.parallelize(parts, 3).flatMap(identity), schema)).cache()
    // 37 queries: a four-vector and a two-vector lane block; every third
    // equals a corpus vector, so its best rows tie at distance 0
    val qvecs = (0 until 37).map(i =>
      if (i % 3 == 0) base(i % 12) else Seq.fill(dims)(rnd.nextFloat() * 2 - 1))
    val qs = qvecs.zipWithIndex.map { case (v, i) => (f"q$i%02d", v) }.toDF("qid", "qvector")
    val qsets = qvecs.zipWithIndex.map { case (v, i) => (f"q$i%02d", Seq(v)) }
      .toDF("qid", "qvectors")
    val k = 7
    try {
      assert(corpus.rdd.glom().map(_.length).collect().toSeq === Seq(23, 19, 21))
      for (metric <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)) {
        val config = CollectionConfig("blocks", dims, metric, normalize = Some(Normalize.None))
        def forms: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
          "flat" -> Search.flatSearchMany(corpus, config, qs, k),
          "bf16" -> Search.flatSearchManyBf16(corpus, config, qs, k),
          "maxsim" -> Search.multiVectorSearchMany(corpus, config, qsets, k),
          "quantized" -> Search.quantizedSearchMany(corpus, config, qs, k, candidates = 14),
          "funnel" -> Search.funnelSearchMany(corpus, config, qs, k, stages = Seq(4, 8),
            candidates = 14))
        val blocked = forms.map { case (form, df) =>
          assert(execOf(df.queryExecution.executedPlan).nonEmpty, s"$form heap node")
          form -> df.collect()
        }.toMap
        // the single-query forms, on every fourth query
        for (i <- 0 until 37 by 4) {
          val qid = f"q$i%02d"
          def batch(form: String, cols: Seq[Int]) =
            blocked(form).filter(_.getString(0) == qid).map(r => cols.map(r.get)).toSeq
              .sortBy(_.mkString("|"))
          val q = qvecs(i).toArray
          val flat = Search.flatSearch(corpus, config, q, k).collect()
            .map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toSeq.sortBy(_.mkString("|"))
          assert(batch("flat", Seq(1, 2, 3, 4)) === flat, s"$metric flat $qid")
          val ms = Search.multiVectorSearch(corpus, config, Seq(q), k).collect()
            .map(r => Seq(r.get(0), r.get(1), r.get(2))).toSeq.sortBy(_.mkString("|"))
          assert(batch("maxsim", Seq(1, 2, 3)) === ms, s"$metric maxsim $qid")
        }
        assert(blocked.values.forall(_.forall(r => r.getString(1) != null && r.getString(1) != "nv")),
          s"$metric: a NULL-id or NULL-vector row won")
        // the two-level plan evaluates the same scan expression per row
        spark.conf.set("spark.graft.batch.mergeSingleMaxEntries", "1")
        try {
          for ((form, df) <- forms) {
            assert(execOf(df.queryExecution.executedPlan).isEmpty, s"$form two-level")
            assert(rowKey(df.collect()) === rowKey(blocked(form)), s"$metric $form")
          }
        } finally spark.conf.unset("spark.graft.batch.mergeSingleMaxEntries")
      }
    } finally corpus.unpersist()
  }
}
