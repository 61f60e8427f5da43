package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity, TextStats}

/** Dedup / similarity / text-analysis operators over crafted corpora. */
class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different words about spark shuffles and joins"),
    (5L, "a tiny doc")
  ).toDF("doc_id", "text")

  test("exactClusters: identical texts share a cluster, others don't") {
    val m = Dedup.exactClusters(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(m(1L) == ((1L, false)) && m(2L) == ((1L, true)))
    assert(m(3L) == ((3L, false)) && m(4L) == ((4L, false)))
  }

  test("minhashClusters: exact dups cluster; disjoint texts never do") {
    val m = Dedup.minhashClusters(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m(2L) == 1L, "identical text must share signature")
    assert(m(4L) == 4L && m(5L) == 5L)
  }

  test("SQL surface: minhash_sig and distinct_shingles callable from raw SQL") {
    graft.functions.GraftFunctions.register(spark)
    corpus.createOrReplaceTempView("gf_docs")
    val r = spark.sql(
      "SELECT doc_id, size(distinct_shingles(text, 3)) AS ns, " +
        "minhash_sig(text, 3, 2)[0] AS s0 FROM gf_docs ORDER BY doc_id").collect()
    assert(r.length == 5)
    assert(r.head.getInt(1) > 0)
    assert(r.head.getString(2).matches("[0-9a-f]{32}"))
    // the registered AGGREGATE resolves like a built-in (analyzer wraps it)
    val agg = spark.sql(
      "SELECT bitmap_distinct(CAST(doc_id % 3 AS INT)) AS n FROM gf_docs").collect()
    assert(agg(0).getLong(0) == 3L)
    // kernel structs + trained-merge tokenization from raw SQL
    val k = spark.sql(
      "SELECT repetition_stats(text).n2 AS n2, size(char_pairs(text)) AS ncp, " +
        "bpe_token_count('abab', array('a|b', 'ab|ab')) AS nt FROM gf_docs " +
        "ORDER BY doc_id").collect()
    assert(k.head.getLong(0) >= 0 && k.head.getInt(1) >= 0)
    // 'abab' -> [a,b,a,b] -> merge a|b twice -> [ab,ab] -> merge ab|ab -> [abab]
    assert(k.head.getLong(2) == 1L, s"bpe_token_count: got ${k.head.getLong(2)}")
  }

  test("SQL surface: bloom and topk sketch functions callable from raw SQL") {
    graft.functions.GraftFunctions.register(spark)
    corpus.createOrReplaceTempView("gf_docs2")
    // build a filter over the corpus texts, probe members + a non-member:
    // members MUST hit (one-sided error); the alien string should miss at
    // this filter size (deterministic on fixed data — asserted exactly)
    val r = spark.sql(
      "WITH bf AS (SELECT bloom_agg(xxhash64(text)) AS f FROM gf_docs2) " +
        "SELECT min(bloom_contains(f, xxhash64(text))) AS all_in, " +
        "max(bloom_contains(f, xxhash64(text || '<<absent>>'))) AS alien, " +
        "max(bloom_hits(array(text, text || '<<absent>>'), f)) AS hits " +
        "FROM gf_docs2 CROSS JOIN bf").collect()
    assert(r(0).getBoolean(0), "members must always probe true")
    assert(!r(0).getBoolean(1), "alien strings must miss at 2^20 bits")
    assert(r(0).getInt(2) == 1, "bloom_hits counts exactly the member")
    // aggregate + explicit capacity: 5 docs, c=8 => exact counts, err 0
    val tk = spark.sql(
      "SELECT topk_sketch(CAST(doc_id % 2 AS STRING), 8) AS sk FROM gf_docs2")
      .selectExpr("sk.err", "sk.n", "sk.counts[0]").collect()
    assert(tk(0).getLong(0) == 0L && tk(0).getLong(1) == 5L && tk(0).getLong(2) == 3L)
    // quantile_sketch resolves with an array-literal percentages argument;
    // 5 values < k are retained exactly (p50 of ids 1..5 = 3, bound = slack)
    val qs = spark.sql(
      "SELECT quantile_sketch(CAST(doc_id AS DOUBLE), array(0.5)) AS s FROM gf_docs2")
      .selectExpr("s.values[0]", "s.n").collect()
    assert(qs(0).getDouble(0) == 3.0 && qs(0).getLong(1) == 5L)
    // the probe surface takes arbitrary BINARY from SQL: a non-bloom_agg
    // filter must fail loudly, not index out of bounds / probe aliased bits
    val bad = intercept[Exception](spark.sql(
      "SELECT bloom_contains(CAST('xy' AS BINARY), xxhash64('a')) FROM gf_docs2").collect())
    assert(bad.getMessage.contains("power-of-two"), s"got: ${bad.getMessage}")
    // a 3rd (toltype) argument is rejected, never silently dropped
    val tol = intercept[Exception](spark.sql(
      "SELECT st_curvetoline('POINT (0 0)', 1.0, 0) FROM gf_docs2").collect())
    assert(tol.getMessage.contains("toltype"), s"got: ${tol.getMessage}")
  }

  test("chunkWindows: no subsumed trailing chunk; null text dropped; short docs one chunk") {
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, toks(40)),  // == ChunkSize: exactly chunk 0 (no subsumed tail)
      (2L, toks(41)),  // one past: chunk 0 + a 9-token tail carrying token 41
      (3L, toks(10)),  // short doc: single partial chunk
      (4L, null.asInstanceOf[String]), // null text: dropped, both engines
      (5L, toks(72)),  // 40+32: tail chunk ends exactly at doc end
      (6L, toks(73))   // one past that: a third chunk appears
    ).toDF("doc_id", "text")
    val m = graft.llm.QueriesE.chunkWindows(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        (r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._1).toList).toMap
    assert(m(1L) == List((0L, 0L, 40)), s"40-token doc: ${m(1L)}")
    assert(m(2L) == List((0L, 0L, 40), (1L, 32L, 9)))
    assert(m(3L) == List((0L, 0L, 10)))
    assert(!m.contains(4L), "null text must be dropped")
    assert(m(5L) == List((0L, 0L, 40), (1L, 32L, 40)))
    assert(m(6L) == List((0L, 0L, 40), (1L, 32L, 40), (2L, 64L, 9)))
    // every chunk is maximal-or-final: no chunk's span is contained in the
    // previous chunk's span
    m.values.foreach { chunks =>
      chunks.sliding(2).foreach {
        case List((_, s0, n0), (_, s1, n1)) =>
          assert(s1 + n1 > s0 + n0, s"subsumed chunk: $chunks")
        case _ =>
      }
    }
  }

  test("stringSeqArg: null array element raises the descriptive error, not an NPE") {
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT bpe_token_count('abab', array('a|b', NULL))").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("array<string> literal expected")),
      s"expected descriptive IllegalArgumentException, got: $e")
  }

  test("connectedComponents: chains collapse to min-id clusters; isolated stay alone") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // chain 1-2-3 (transitive closure needed), pair 4-5, isolated 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val m = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("native minhash kernel is bit-identical to the HOF executable spec") {
    // real corpus text (includes punctuation, repeated shingles, multi-space
    // oddities if any) — the kernel must reproduce the composable
    // formulation's md5 minima exactly, per permutation
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val k = 8
    val hof = docs.select(col("doc_id") +: Dedup.minhashSig(Dedup.shingles(col("text"), 3), k): _*)
    val native = docs.select(col("doc_id"),
      graft.functions.TextExpressions.minhashSig(col("text"), 3, k).as("sig"))
    val joined = hof.join(native, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val sig = if (r.isNullAt(k + 1)) null else r.getSeq[String](k + 1)
      (0 until k).foreach { j =>
        val spec = if (r.isNullAt(j + 1)) null else r.getString(j + 1)
        val nat = if (sig == null) null else sig(j)
        assert(spec == nat, s"doc ${r.getLong(0)} perm $j: $spec != $nat")
      }
    }
  }

  test("native distinctShingles is value-identical to array_distinct(HOF shingles)") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    for (n <- Seq(2, 3)) {
      val joined = docs.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"), n)).as("spec"),
        graft.functions.TextExpressions.distinctShingles(col("text"), n).as("native"))
        .collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"doc ${r.getLong(0)} n=$n")
      }
    }
    // edge semantics: short docs and null text give the spec's empty array
    val edge = Seq((1L, "a b"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val e = edge.select(
      graft.functions.TextExpressions.distinctShingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(e.forall(_.isEmpty))
  }

  test("pqTopK: partition-count independent, codes in range, ADC ordering") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val a = Similarity.pqTopK(emb, "vec_id", queryId = 0L).collect()
    val b = Similarity.pqTopK(emb.repartition(5), "vec_id", queryId = 0L).collect()
    graft.Caches.drain()
    assert(a.toSeq == b.toSeq,
      "PQ training/encoding/ADC must not depend on partitioning")
    assert(a.length == 5 && a.forall(r => r.getLong(0) != 0L))
    assert(a.forall(r => (1 to 4).forall(j => (0 until 4).contains(r.getInt(j)))))
    val adcs = a.map(_.getDouble(5))
    assert(adcs.zip(adcs.tail).forall { case (x, y) => x <= y })
  }

  test("BitmapDistinct aggregate == count(DISTINCT) on the bounded domain") {
    import graft.functions.AggExpressions.bitmapDistinct
    val rnd = new scala.util.Random(77)
    val rows = (1 to 5000).map(_ => (rnd.nextInt(4).toLong, rnd.nextInt(1 << 16)))
    val df = rows.toDF("g", "bucket")
      .select(col("g"), col("bucket").cast("int").as("bucket"))
    val got = df.groupBy("g").agg(bitmapDistinct(col("bucket")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("g").agg(countDistinct(col("bucket")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // nulls ignored, empty group absent — countDistinct parity
    val withNulls = Seq((1L, Some(3)), (1L, None), (2L, None))
      .toDF("g", "bucket").select(col("g"), col("bucket").cast("int").as("bucket"))
    val g2 = withNulls.groupBy("g").agg(bitmapDistinct(col("bucket")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2 == Map(1L -> 1L, 2L -> 0L))
    // the scale contract: ONE exchange, map-side partial aggregation of
    // fixed-size buffers (vs the two-shuffle distinct-expand plan)
    val plan = df.groupBy("g").agg(bitmapDistinct(col("bucket")).as("n"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_bitmap_distinct"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("BloomAgg: identical filter under any partitioning; one-exchange partial plan") {
    import graft.functions.AggExpressions.{bloomAgg, bloomContains}
    val rnd = new scala.util.Random(11)
    val xs = (1 to 3000).map(_ => rnd.nextLong())
    val filters = Seq(1, 7, 32).map { parts =>
      xs.toDF("h").repartition(parts)
        .agg(bloomAgg(col("h"), 1 << 16, 5).as("f"))
        .collect()(0).getAs[Array[Byte]](0).toSeq
    }
    // byte-OR merge is commutative/associative: the FILTER ITSELF (not
    // just its answers) must be partition-order-independent
    assert(filters.distinct.size == 1, "bloom filter must not depend on partitioning")
    // one-sided error through the DataFrame surface
    val df = xs.toDF("h")
    val bf = df.agg(bloomAgg(col("h"), 1 << 16, 5).as("f"))
    val probed = df.crossJoin(bf)
      .select(bloomContains(col("f"), col("h"), 5).as("hit"))
      .collect().map(_.getBoolean(0))
    assert(probed.forall(identity), "members must always probe true")
    val plan = df.groupBy(lit(1)).agg(bloomAgg(col("h")).as("f"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_bloom_agg"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("TopKSketch: certified guarantees hold through the DataFrame surface × partitioning") {
    import graft.functions.AggExpressions.topkSketch
    val rnd = new scala.util.Random(5)
    // Zipf-ish: token t_k with weight ~ 1/k
    val xs = (1 to 20000).map { _ =>
      val k = math.min(99, (1.0 / (rnd.nextDouble() + 1e-9)).toInt)
      s"t$k"
    }
    val truth = xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (parts <- Seq(1, 7, 32)) {
      val r = xs.toDF("w").repartition(parts)
        .agg(topkSketch(col("w"), 32).as("s"))
        .select("s.items", "s.counts", "s.err", "s.n").collect()(0)
      val est = r.getSeq[String](0).zip(r.getSeq[Long](1)).toMap
      val err = r.getLong(2)
      assert(r.getLong(3) == xs.size.toLong, s"parts=$parts: n")
      assert(err * 33 <= xs.size, s"parts=$parts: err ceiling")
      truth.foreach { case (item, t) =>
        val e = est.getOrElse(item, 0L)
        assert(e <= t && t <= e + err, s"parts=$parts: bracketing $item")
        assert(t <= err || est.contains(item), s"parts=$parts: coverage $item")
      }
    }
    val plan = xs.toDF("w").groupBy(lit(1)).agg(topkSketch(col("w")).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_sketch"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("QuantileSketch: certified rank-error bound holds for every distribution × partitioning") {
    import graft.functions.AggExpressions.quantileSketch
    val rnd = new scala.util.Random(42)
    val dists = Map(
      "uniform" -> (1 to 20000).map(_ => rnd.nextDouble() * 1000),
      "heavy-tail" -> (1 to 20000).map(_ => math.pow(rnd.nextDouble(), 8) * 1e6),
      "duplicated" -> (1 to 20000).map(_ => (rnd.nextInt(50) * 7).toDouble))
    val ps = Seq(0.01, 0.25, 0.5, 0.9, 0.99)
    for ((name, xs) <- dists; parts <- Seq(1, 7, 32)) {
      val sorted = xs.sorted
      val n = xs.size
      val r = xs.toDF("x").repartition(parts)
        .agg(quantileSketch(col("x"), ps, k = 256).as("s"))
        .select("s.values", "s.err_bound", "s.n").collect()(0)
      val vals = r.getSeq[Double](0); val bound = r.getLong(1)
      assert(r.getLong(2) == n, s"$name/$parts: sketch n")
      // the bound itself must be small (k=256 ⇒ well under 5% of n)
      assert(bound <= n / 20, s"$name/$parts: bound $bound too loose for n=$n")
      ps.zip(vals).foreach { case (p, v) =>
        val target = math.max(1L, math.ceil(p * n).toLong)
        // v occupies the rank interval [count(<v)+1, count(<=v)]; the
        // certified contract is that this interval intersects
        // [target - bound, target + bound]
        val lo = sorted.count(_ < v) + 1L
        val hi = sorted.count(_ <= v).toLong
        assert(lo <= target + bound && hi >= target - bound,
          s"$name/$parts p=$p: v=$v ranks [$lo,$hi] vs target $target ± $bound")
        assert(xs.contains(v), s"$name/$parts p=$p: $v is not an input value")
      }
    }
    // the scale contract: map-side partial aggregation of fixed-size
    // mergeable buffers, ONE exchange (like bitmap_distinct)
    val plan = (1 to 100).map(_.toDouble).toDF("x")
      .agg(quantileSketch(col("x"), Seq(0.5)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_quantile_sketch"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("BpeKernel: canonical greedy merge semantics and trained-merge pipeline") {
    import graft.functions.{BpeKernel, BpeExpressions}
    // one merge, one left-to-right non-overlapping pass (Sennrich apply)
    assert(BpeKernel.tokens("aaaa", Array("a|a")).toSeq == Seq("aa", "aa"))
    assert(BpeKernel.tokens("aaa", Array("a|a")).toSeq == Seq("aa", "a"))
    assert(BpeKernel.tokens("ababa", Array("a|b")).toSeq == Seq("ab", "ab", "a"))
    // merges apply in rank order; a later merge consumes an earlier one's
    // output token as a unit (th+e), never its suffix (h+e)
    assert(BpeKernel.tokens("the", Array("t|h", "th|e")).toSeq == Seq("the"))
    assert(BpeKernel.tokens("he", Array("t|h", "th|e")).toSeq == Seq("h", "e"))
    assert(BpeKernel.tokens("x", Array("a|a")).toSeq == Seq("x"))
    // with no merges, pair occurrences == charPairs occurrences per row
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select(col("doc_id"), col("text")).limit(100)
    val sizes = docs.select(
      size(BpeExpressions.bpePairs(col("text"), Nil)).as("a"),
      size(graft.functions.TextExpressions.charPairs(col("text"))).as("b"))
      .collect()
    assert(sizes.nonEmpty && sizes.forall(r => r.getInt(0) == r.getInt(1)))
    // training: deterministic argmax with the (n DESC, pair ASC) tie-break
    val corpus = Seq((1L, "low low low lower"), (2L, "low newest newest"))
      .toDF("doc_id", "text")
    corpus.createOrReplaceTempView("bpe_docs")
    val words = corpus.select(explode(split(col("text"), " ")).as("w"))
    val trained = {
      var merges = Vector.empty[String]
      (1 to 2).map { _ =>
        val top = corpus
          .select(explode(BpeExpressions.bpePairs(col("text"), merges)).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(1).collect()(0)
        merges = merges :+ top.getString(0)
        (top.getString(0), top.getLong(1))
      }
    }
    // 'lo' appears in low×4 + lower = 5, 'o|w' also 5 -> tie broken by
    // pair ASC: "l|o" < "o|w"; after merging l|o, (lo,w) has 5
    assert(trained(0) == (("l|o", 5L)))
    assert(trained(1) == (("lo|w", 5L)))
    assert(words.select(
      BpeExpressions.bpeTokenCount(col("w"), Seq("l|o", "lo|w")).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0) ==
      (1 + 1 + 1 + 3) + (1 + 6 + 6)) // low,low,low,lower=low+er | low,newest×2
  }

  test("native winnowFps kernel is value-identical to the HOF executable spec") {
    // real corpus text: the O(len) rolling-hash + deque kernel must
    // reproduce the composable transform/slice/array_min formulation's
    // distinct minima exactly, in the same first-occurrence order
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select(col("doc_id"), col("text")).limit(100)
    val joined = docs.select(col("doc_id"),
      Dedup.winnowFingerprints(col("text")).as("spec"),
      graft.functions.TextExpressions.winnowFps(col("text")).as("native"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val spec = if (r.isNullAt(1)) null else r.getSeq[Long](1)
      val nat = if (r.isNullAt(2)) null else r.getSeq[Long](2)
      assert(spec == nat, s"doc ${r.getLong(0)}")
    }
    // edge semantics: exactly at/below the w+winnowW-1 = 11-codepoint
    // threshold, unicode (codepoint-counted, ascii() = codePointAt), and
    // a repeated substring whose shared windows must dedup to one minimum
    val edge = Seq(
      (1L, "0123456789"),            // 10 cps -> null
      (2L, "0123456789a"),           // 11 cps -> exactly one winnow window
      (3L, "αβγδεζηθικλ"),           // 11 unicode cps
      (4L, "aaaaaaaaaaaaaaaaaaaa"),  // all windows identical -> 1 fp
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val e = edge.select(col("doc_id"),
      Dedup.winnowFingerprints(col("text")).as("spec"),
      graft.functions.TextExpressions.winnowFps(col("text")).as("native"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1),
          if (r.isNullAt(2)) null else r.getSeq[Long](2))).toMap
    assert(e(1L) == ((null, null)))
    assert(e(2L)._2 != null && e(2L)._2.length == 1 && e(2L)._1 == e(2L)._2)
    assert(e(3L)._1 == e(3L)._2 && e(3L)._2.length == 1)
    assert(e(4L)._2.length == 1 && e(4L)._1 == e(4L)._2)
    assert(e(5L) == ((null, null)))
    // the winnowing guarantee on the query's parameters: any shared
    // substring of >= w + winnowW - 1 chars yields a shared fingerprint
    val shared = "THE-VERBATIM-SPAN-CARRIED-ACROSS"
    val pairDf = Seq((10L, s"left context before $shared and after"),
      (11L, s"совершенно other prefix $shared different suffix"))
      .toDF("doc_id", "text")
      .select(graft.functions.TextExpressions.winnowFps(col("text")).as("f"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(pairDf(0).intersect(pairDf(1)).nonEmpty)
  }

  test("kernels match HOF spec on randomized adversarial text (unicode, spacing)") {
    val rnd = new scala.util.Random(4242)
    val alphabets = Seq("abc de f", "αβγ δε", "汉字 文本", "a  b   c", " lead", "trail ",
      "x\ty", "emoji 🙂 mix", "")
    val texts = (1 to 60).map { i =>
      val parts = (0 to rnd.nextInt(12)).map(_ => alphabets(rnd.nextInt(alphabets.length)))
      (i.toLong, parts.mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val k = 4
    val cmp = df.select(
      (Dedup.minhashSig(Dedup.shingles(col("text"), 2), k) :+
        graft.functions.TextExpressions.minhashSig(col("text"), 2, k).as("nat") :+
        array_distinct(Dedup.shingles(col("text"), 2)).as("spec_sh") :+
        graft.functions.TextExpressions.distinctShingles(col("text"), 2).as("nat_sh")): _*)
      .collect()
    cmp.foreach { r =>
      val nat = if (r.isNullAt(k)) null else r.getSeq[String](k)
      (0 until k).foreach { j =>
        val spec = if (r.isNullAt(j)) null else r.getString(j)
        assert(spec == (if (nat == null) null else nat(j)))
      }
      assert(r.getSeq[String](k + 1) == r.getSeq[String](k + 2))
    }
  }

  test("native minhash kernel: null and short-doc semantics match the spec") {
    val edge = Seq((1L, "one two"), (2L, ""), (3L, "a b c"), (4L, "x  y z w"))
      .toDF("doc_id", "text")
    val m = edge.select(col("doc_id"),
      graft.functions.TextExpressions.minhashSig(col("text"), 3, 2).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(m(1L) == null, "fewer than n tokens => null")
    assert(m(2L) == null, "empty text => single empty token => null")
    assert(m(3L) != null && m(3L).length == 2)
    assert(m(4L) != null, "double space yields empty tokens but still >= n of them")
  }

  test("minhash: short docs (null signature) are never lumped as duplicates") {
    val shorts = Seq((1L, "one"), (2L, "two"), (3L, "abc")).toDF("doc_id", "text")
    val m = Dedup.minhashClusters(shorts, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    m.foreach { case (id, (cid, dup)) => assert(cid == id && !dup, s"doc $id: ($cid,$dup)") }
    assert(Dedup.minhashBandPairs(shorts, "doc_id", "text").count() == 0)
  }

  test("minhashBandPairs: banded LSH surfaces the near-dup candidate pair") {
    val pairs = Dedup.minhashBandPairs(corpus, "doc_id", "text",
      n = 2, bands = 8, rowsPerBand = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup always collides")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"8 single-row bands should catch an 8/9-shingle overlap; got $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "disjoint text must not collide")
  }

  test("simhash: identical text → identical hash; near-dup → small hamming") {
    val m = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    val hamming = java.lang.Long.bitCount(m(1L) ^ m(3L))
    val hammingFar = java.lang.Long.bitCount(m(1L) ^ m(4L))
    assert(hamming < hammingFar, s"near-dup hamming $hamming !< unrelated $hammingFar")
  }

  test("fingerprint: stable, text-keyed, order-sensitive only beyond min-k") {
    val fp = corpus.select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(4L))
  }

  test("rollingFingerprint: stable, min-window hash, null under window size") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "short")).toDF("doc_id", "text")
    val m = df.select(col("doc_id"), Dedup.rollingFingerprint(col("text")).as("rh"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(m(1L) == m(2L) && m(1L).nonEmpty)
    assert(m(3L).isEmpty, "texts shorter than the window have no fingerprint")
    // the min-window property: fingerprint of a superstring can only be <=
    val sup = Seq((4L, "AAAA the quick brown fox jumps over the lazy dog ZZZZ"))
      .toDF("doc_id", "text")
      .select(Dedup.rollingFingerprint(col("text"))).collect()(0).getLong(0)
    assert(sup <= m(1L).get.asInstanceOf[Long])
  }

  test("vecDot native kernel is bit-identical to the HOF formulation") {
    val e = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
      .select(Similarity.asDouble(col("embedding")).as("emb")).limit(100)
    val diff = e.select(
      (Similarity.dot(col("emb"), col("emb")) -
        Similarity.dotHof(col("emb"), col("emb"))).as("d"))
      .agg(sum(abs(col("d")))).collect()(0).getDouble(0)
    assert(diff == 0.0, "native and HOF dot must agree bitwise")
  }

  test("cosine: self-similarity is exactly 1.0 on unit-normalizable vectors") {
    val e = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
      .select(Similarity.asDouble(col("embedding")).as("emb")).limit(10)
    val cos = e.select(Similarity.cosine(col("emb"), col("emb")).as("c")).collect()
    cos.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("lshBucket: deterministic and within 4-bit range") {
    val planes = Similarity.signPlanes(4, 64)
    assert(planes.flatten.forall(v => v == 1.0 || v == -1.0))
    val e = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
    val buckets = e.select(Similarity.lshBucket(col("emb"), planes).as("b"))
      .agg(min("b"), max("b")).collect()(0)
    assert(buckets.getInt(0) >= 0 && buckets.getInt(1) <= 15)
  }

  test("ivfTopK: deterministic, ranked, candidates confined to probed lists") {
    val e = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val r1 = Similarity.ivfTopK(e, "vec_id", queryId = 0, nlist = 8, nprobe = 3, k = 5).collect()
    val r2 = Similarity.ivfTopK(e, "vec_id", queryId = 0, nlist = 8, nprobe = 3, k = 5).collect()
    assert(r1.map(_.getLong(0)).sameElements(r2.map(_.getLong(0))), "deterministic")
    assert(r1.length == 5)
    val cs = r1.map(_.getDouble(2))
    assert(cs.sameElements(cs.sortBy(-(_: Double))), "cos descending")
    assert(r1.map(_.getInt(1)).distinct.length <= 3, "only probed lists")
  }

  /** Rows as value lists, each double replaced by its IEEE-754 bits. */
  private def bits(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    })

  /** The number of Spark jobs `body` starts. */
  private def jobsIn(body: => Any): Int = {
    import org.apache.spark.graftglue.ListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBus.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  test("memoized ANN index: per-call rows bit for bit, warm search <= 2 jobs, clearMemo frees it") {
    val e = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    def ivf(q: Long, key: String) = bits(Similarity.ivfTopK(e, "vec_id", q,
      nlist = 8, nprobe = 2, k = 5, memoKey = key).collect())
    def pq(q: Long, key: String) =
      bits(Similarity.pqTopK(e, "vec_id", q, memoKey = key).collect())
    Caches.drain()
    Caches.clearMemo()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    for (q <- Seq(0L, 7L, 250L, 499L)) {
      assert(ivf(q, "llmspec-ivf") == ivf(q, ""), s"IVF query $q")
      assert(pq(q, "llmspec-pq") == pq(q, ""), s"PQ query $q")
      Caches.drain()
    }
    val ivfJobs = jobsIn(ivf(123L, "llmspec-ivf"))
    val pqJobs = jobsIn(pq(123L, "llmspec-pq"))
    assert(ivfJobs <= 2 && pqJobs <= 2, s"warm searches: IVF $ivfJobs, PQ $pqJobs jobs")
    Caches.drain()
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore + 2,
      "one cached index per key")
    Caches.clearMemo()
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "clearMemo unpersists both indexes")
  }

  test("memoized ANN index: an appended file or a filtered frame never serves stale rows") {
    val dir = java.nio.file.Files.createTempDirectory("ann-memo").toString + "/emb"
    val src = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    src.write.parquet(dir)
    val q = 42L
    // each search is one query: drained after it like the harnesses do, so
    // no per-query training copy of the old files outlives it
    def ids(r: => Array[org.apache.spark.sql.Row]) =
      try r.map(_.getLong(0)).toSeq finally Caches.drain()
    def ivf(df: org.apache.spark.sql.DataFrame) = ids(Similarity.ivfTopK(df, "vec_id", q,
      nlist = 8, nprobe = 2, k = 5, memoKey = "llmspec-stale-ivf").collect())
    def pq(df: org.apache.spark.sql.DataFrame) = ids(Similarity.pqTopK(df, "vec_id", q,
      memoKey = "llmspec-stale-pq").collect())
    val before = spark.read.parquet(dir)
    val (ivf0, pq0) = (ivf(before), pq(before))
    // a copy of the query's vector, under an id that sorts first among
    // ties, moved in out of band: a Spark append to `dir` would itself
    // refresh every cached plan that reads the path
    val side = dir + "_side"
    src.filter(col("vec_id") === q).withColumn("vec_id", lit(-1L))
      .coalesce(1).write.parquet(side)
    new java.io.File(side).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath, new java.io.File(dir, f.getName).toPath))
    val after = spark.read.parquet(dir)
    assert(ivf(after).head == -1L, s"IVF must see the appended file: ${ivf(after)}")
    assert(pq(after).head == -1L, s"PQ must see the appended file: ${pq(after)}")
    // the same files and key, filtered back to the old rows: its own index
    val filtered = after.filter(col("vec_id") =!= -1L)
    assert(ivf(filtered) == ivf0, "IVF over the filtered frame")
    assert(pq(filtered) == pq0, "PQ over the filtered frame")
  }

  test("SQL registration exposes st_*/vec_dot to spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT st_normalize_wkt('POINT(1 2)') AS w, " +
        "st_transform('POINT (2660000 220000)', 2272, 4326) AS t, " +
        "vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect()(0)
    assert(r.getString(0) == "POINT (1 2)")
    assert(r.getString(1).startsWith("POINT (-75."))
    assert(r.getDouble(2) == 11.0)
  }

  test("langId: argmax of marker profiles with deterministic tie-break") {
    val df = Seq((1L, "the the the fast"), (2L, "data stream hash merge"),
      (3L, "zzz yyy")).toDF("doc_id", "text")
    val m = df.select(col("doc_id"), TextStats.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en" && m(2L) == "de")
    assert(m(3L) == "en", "all-zero counts tie-break to first profile")
  }

  test("qualityScore within [0,1]; longer clean text scores higher") {
    val df = Seq((1L, "the quick brown fox and the lazy dog of the hill", 500L),
      (2L, "x!@# $%^", 8L)).toDF("doc_id", "text", "n_chars")
    val m = df.select(col("doc_id"),
      TextStats.qualityScore(col("text"), col("n_chars")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) > m(2L) && m.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("token counts: whitespace vs BPE-ish regex boundaries") {
    val df = Seq((1L, "hello world42 it's x")).toDF("doc_id", "text")
    val r = df.select(TextStats.wsTokens(col("text")).as("ws"),
      TextStats.regexTokens(col("text")).as("re")).collect()(0)
    assert(r.getLong(0) == 4)           // whitespace tokens
    assert(r.getLong(1) == 7)           // hello|world|42|it|'|s|x
  }

  test("multimodal encode/decode: REAL codec round-trips recover the exact signal") {
    val text = "the quick brown fox jumps over the lazy dog again and again tonight"
    val body = Multimodal.bodyOf(text)
    // image (doc_id % 3 == 0): payload is a genuine PNG; ImageIO round-trip
    // recovers dims from the header and every raster byte exactly
    val img = Multimodal.encodeOne(3L, text)
    assert((img.media(0) & 0xff) == 0x89 && img.media(1) == 'P', "PNG magic")
    val dImg = Multimodal.decodeOne(img)
    assert(dImg.codec == "png" && dImg.width == Multimodal.ImgW &&
      dImg.height == Multimodal.imgH(body.length) && dImg.n_frames == 1)
    assert(dImg.content.sameElements(
      Multimodal.resample(body, dImg.width * dImg.height)),
      "decoded raster must equal the proportional text resample")
    // audio (doc_id % 3 == 1): payload is a genuine WAV; AudioSystem
    // round-trip recovers one 8-bit sample per text byte
    val wav = Multimodal.encodeOne(1L, text)
    assert(new String(wav.media, 0, 4, "US-ASCII") == "RIFF")
    val dWav = Multimodal.decodeOne(wav)
    assert(dWav.codec == "wav" && dWav.n_frames == body.length)
    assert(dWav.content.sameElements(body), "decoded samples must equal the text bytes")
    // video (doc_id % 3 == 2): GFV1 container of really-PNG-decoded frames
    val vid = Multimodal.encodeOne(2L, text)
    val dVid = Multimodal.decodeOne(vid)
    assert(dVid.codec == "gfv1" && dVid.n_frames == Multimodal.videoFrames(body.length))
    assert(dVid.width == Multimodal.FrameW && dVid.height == Multimodal.FrameH)
    assert(dVid.content.sameElements(
      Multimodal.resample(body, dVid.n_frames * 64)))
    // decode sniffs the container, not the label
    assert(Multimodal.decodeOne(img.copy(media_type = "mislabeled")).codec == "png")
    // null/empty text degrades to the 1-byte '#' signal, never divides by 0
    assert(Multimodal.decodeOne(Multimodal.encodeOne(0L, null)).fingerprint.length == 8)
    assert(Multimodal.decodeOne(Multimodal.encodeOne(1L, "")).n_content == 1L)
  }

  test("decodeSafe: corrupt payloads quarantine with the error, good rows unchanged") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").limit(30)
    val media = Multimodal.mediaFromDocuments(spark, docs).map { r =>
      if (r.doc_id % 3 == 0) // one of each container class gets corrupted
        r.copy(media = java.util.Arrays.copyOf(r.media, 12)) // truncated
      else if (r.doc_id % 3 == 1) {
        val b = r.media.clone(); b(0) = 'Z'; r.copy(media = b) // bad magic
      } else r
    }
    val attempts = Multimodal.decodeSafe(spark, media).collect()
    assert(attempts.length == 30)
    attempts.foreach { a =>
      assert(a.ok.isDefined != a.bad.isDefined, "exactly one arm per attempt")
      a.ok.foreach(d => assert(d.doc_id % 3 == 2 && d.codec == "gfv1"))
      a.bad.foreach { q =>
        assert(q.doc_id % 3 != 2 && q.error.nonEmpty && q.n_bytes > 0)
      }
    }
    // the good arm's decoded content is byte-identical to the unguarded path
    val safeGood = attempts.flatMap(_.ok).map(d => d.doc_id -> d.fingerprint).toMap
    val full = Multimodal.decode(spark,
      Multimodal.mediaFromDocuments(spark, docs)).collect()
      .filter(_.doc_id % 3 == 2).map(d => d.doc_id -> d.fingerprint).toMap
    assert(safeGood == full)
    // a NULL payload quarantines too — the dead-letter constructor must
    // not itself dereference the missing bytes (r8 review finding)
    val nullRow = spark.createDataset(Seq(
      Multimodal.MediaRow(42L, "image", null)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val nq = Multimodal.decodeSafe(spark, nullRow).collect()(0)
    assert(nq.bad.exists(q => q.doc_id == 42L && q.n_bytes == 0 && q.error.nonEmpty))
  }

  test("multimodal decode over the corpus: batch plumbing + header-true metadata") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").limit(20)
    val out = Multimodal.decode(spark,
      Multimodal.mediaFromDocuments(spark, docs)).collect()
    assert(out.length == 20)
    out.foreach { m =>
      assert(Set("image", "audio", "video").contains(m.media_type))
      val expected = Map("image" -> "png", "audio" -> "wav", "video" -> "gfv1")
      assert(m.codec == expected(m.media_type))
      assert(m.fingerprint.length == 8 && m.n_content == m.content.length.toLong)
      if (m.codec == "png") assert(m.width == Multimodal.ImgW && m.n_frames == 1)
    }
  }

  test("resizeImages: real nearest-neighbor resample, re-encoded PNG round-trips") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").limit(9)
    val decoded = Multimodal.decode(spark, Multimodal.mediaFromDocuments(spark, docs))
    val out = Multimodal.resizeImages(spark, decoded, 128, 96).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("width") == 128 && r.getAs[Int]("height") == 96)
      val png = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("media")))
      assert(png.getWidth == 128 && png.getHeight == 96,
        "re-encoded payload must be a real 128×96 PNG")
    }
  }

  test("extractFeatures: 4-dim decoded-content features in [-0.5, 0.5)") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").limit(20)
    val decoded = Multimodal.decode(spark,
      Multimodal.mediaFromDocuments(spark, docs)).toDF()
    val out = Multimodal.extractFeatures(decoded).collect()
    out.foreach { r =>
      (1 to 4).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= -0.5 && v < 0.5, s"f${i - 1}=$v out of range")
      }
    }
    assert(out.map(_.getDouble(1)).distinct.length > 10, "features vary per doc")
  }

  test("frame sampling keeps every 2nd decoded frame of video rows only") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").limit(9)
    val decoded = Multimodal.decode(spark, Multimodal.mediaFromDocuments(spark, docs))
    val videos = decoded.collect().filter(_.codec == "gfv1").map(d => d.doc_id -> d.n_frames).toMap
    val out = Multimodal.sampleFrames(spark, decoded, every = 2).collect()
    assert(out.map(_.getLong(0)).toSet == videos.keySet, "video rows only")
    out.foreach { r =>
      val k = videos(r.getLong(0))
      assert(r.getAs[Int]("n_frames") == k && r.getAs[Int]("n_sampled") == (k + 1) / 2)
    }
  }

  test("e23 quantization: |q| ≤ 127 and reconstruction error is bounded") {
    val out = graft.llm.QueriesE.all("e23_embed_quantize")(spark, TestSpark.Sf).collect()
    assert(out.length > 0)
    out.foreach { r =>
      val scale = r.getDouble(1); val qnorm2 = r.getLong(2); val err = r.getDouble(3)
      assert(scale > 0, "scale positive")
      // 64 dims, each |q_i| ≤ 127 ⇒ qnorm2 ≤ 64·127²
      assert(qnorm2 >= 0 && qnorm2 <= 64L * 127 * 127, s"qnorm2=$qnorm2")
      // per-dim rounding error ≤ scale/2 ⇒ err ≤ 64·(scale/2)²
      assert(err >= 0 && err <= 64 * (scale / 2) * (scale / 2) * 1.0000001,
        s"err=$err vs bound=${64 * (scale / 2) * (scale / 2)}")
    }
  }

  /** Write a crafted corpus as <dir>/documents.parquet and return the dir
    * (the declared E queries read documents by convention).
    */
  private def craftedDocsDir(tag: String, rows: Seq[(Long, String, Long)]): String = {
    val dir = s"/root/repo/target/fixtures/test/docs_$tag"
    rows.toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("e26 repetition: repeated bigrams flag; diverse text does not") {
    val dir = craftedDocsDir("e26", Seq(
      (1L, "spam ham spam ham spam ham spam ham", 35L),
      (2L, "one two three four five six seven eight nine ten eleven twelve", 62L)))
    val m = graft.llm.QueriesE.all("e26_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(3))).toMap
    assert(m(1L)._1 == 4.0 / 7.0, "mode bigram 'spam ham' appears 4 of 7")
    assert(m(1L)._2, "repetitive doc must be flagged")
    assert(m(2L)._1 == 1.0 / 11.0 && !m(2L)._2, "diverse doc unflagged")
  }

  test("e27 decontamination: only the doc sharing a 4-gram with the eval set is flagged") {
    // doc 0 is the eval doc (0 % 97 == 0); doc 1 embeds one of its 4-gram
    // spans; doc 2 is disjoint
    val dir = craftedDocsDir("e27", Seq(
      (0L, "alpha beta gamma delta epsilon zeta", 34L),
      (1L, "noise beta gamma delta epsilon other words here", 47L),
      (2L, "completely unrelated text with no shared span at all", 52L)))
    val out = graft.llm.QueriesE.all("e27_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 shares exactly "beta gamma delta epsilon" (one distinct 4-gram)
    assert(out.toSeq == Seq((1L, 1L, 1L)))
  }

  test("e28 canonical selection keeps the highest-quality member, not the min id") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val dir = craftedDocsDir("e28", Seq(
      (10L, txt, 100L),  // same text, LOWER quality (shorter claimed length)
      (11L, txt, 400L),  // higher quality — must win despite the higher id
      (12L, "an isolated document about something else entirely", 50L)))
    val m = graft.llm.QueriesE.all("e28_canonical_keep")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(m(10L) == ((10L, false)), "dup with lower quality is dropped")
    assert(m(11L) == ((10L, true)), "higher-quality member kept (same cluster)")
    assert(m(12L) == ((12L, true)), "isolated doc keeps itself")
  }

  test("e29 tf-idf: rare repeated term outranks the corpus-wide term") {
    val dir = craftedDocsDir("e29", Seq(
      (1L, "apple apple banana", 18L),
      (2L, "banana cherry cherry", 20L)))
    val out = graft.llm.QueriesE.all("e29_tfidf_keywords")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // N=2: apple tf=2 df=1 → 2·(3/2)=3.0 beats banana 1·(3/3)=1.0
    assert(out((1L, 1)) == "apple" && out((2L, 1)) == "cherry")
    assert(out((1L, 2)) == "banana", "corpus-wide term ranks below")
  }

  test("e30 chunk dedup drops a repeated 5-word chunk, keeps first occurrence") {
    val c1 = "one two three four five"
    val c2 = "alpha beta gamma delta epsilon"
    val dir = craftedDocsDir("e30", Seq(
      (1L, s"$c1 $c2", 100L),         // chunks: c1, c2 — both first
      (2L, s"$c1 zeta eta theta iota kappa", 100L))) // c1 is a dup here
    val m = graft.llm.QueriesE.all("e30_chunk_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(m(1L) == ((2L, 0L, s"$c1 $c2")), "doc 1 keeps everything")
    assert(m(2L) == ((2L, 1L, "zeta eta theta iota kappa")),
      "doc 2 loses the chunk doc 1 already owns")
  }

  test("e39 inverted index: df band prunes, postings sort numerically") {
    // term "x y" lands in docs 2, 10, 1, 11, 3 (df=5, inside the band);
    // "a b" appears once (hapax, pruned); the band's lower edge is 5
    val hit = "x y"
    val dir = craftedDocsDir("e39", Seq(
      (2L, s"$hit filler", 10L), (10L, s"pad $hit", 10L),
      (1L, s"$hit more", 10L), (11L, s"$hit tail", 10L),
      (3L, s"lead $hit", 10L), (4L, "a b", 3L)))
    val rows = graft.llm.QueriesE.all("e39_inverted_index")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows.contains("x y"), "df=5 term is indexed")
    assert(rows("x y") == ((5L, "1,2,3,10,11")),
      "postings sort numerically (10, 11 after 3), not lexically")
    assert(!rows.contains("a b"), "hapax term pruned by the df band")
  }

  test("e40 boilerplate scrub drops a chunk repeated across >= 3 docs everywhere") {
    val boiler = "all rights reserved footer text"
    val uniq = Seq("alpha beta gamma delta epsilon",
      "zeta eta theta iota kappa", "lambda mu nu xi omicron")
    val dir = craftedDocsDir("e40", Seq(
      (1L, s"$boiler ${uniq(0)}", 60L),
      (2L, s"$boiler ${uniq(1)}", 60L),
      (3L, s"${uniq(2)} $boiler", 60L)))
    val m = graft.llm.QueriesE.all("e40_boilerplate_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(m(1L) == ((1L, uniq(0))), "doc 1 loses the boilerplate (even first occurrence)")
    assert(m(2L) == ((1L, uniq(1))), "doc 2 loses it too")
    assert(m(3L) == ((1L, uniq(2))), "position does not matter")
  }

  test("e40 keeps a chunk shared by only 2 docs (below the df threshold)") {
    val shared = "quoted passage of five words"
    val dir = craftedDocsDir("e40b", Seq(
      (1L, shared, 30L), (2L, shared, 30L),
      (3L, "unrelated words in this document", 30L)))
    val m = graft.llm.QueriesE.all("e40_boilerplate_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(m(1L) == shared && m(2L) == shared, "df=2 is not boilerplate")
  }

  test("e42 simhash LSH pairs exact duplicates at hamming 0, skips disjoint docs") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = craftedDocsDir("e42", Seq(
      (1L, txt, 50L), (2L, txt, 50L), // identical → simhash equal, hamming 0
      (3L, "one two three four five six seven eight", 40L)))
    val rows = graft.llm.QueriesE.all("e42_simhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(rows.get((1L, 2L)).contains(0), s"identical docs pair at hamming 0: $rows")
    // disjoint vocab docs may or may not band-collide, but if they appear
    // they must genuinely be within the verified hamming radius
    assert(rows.values.forall(_ <= 3), "every reported pair is verified")
  }

  test("e44 budget trim keeps the quality prefix and cuts exactly at the budget") {
    val out = graft.llm.QueriesE.all("e44_budget_trim")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && out.forall(_._4 <= 10000L), "hard budget")
    // the kept set is a prefix of the (score DESC, id) order: every kept
    // doc's cum equals the sum of kept tokens at or before it in that order
    val byRank = out.sortBy(r => (-r._2, r._1))
    val cums = byRank.scanLeft(0L)(_ + _._3).tail
    assert(byRank.map(_._4).sameElements(cums), "cumulative sums are a clean prefix")
  }

  test("e47 rarity: hapax-only doc scores 1.0, common-token doc scores 1/df") {
    val dir = craftedDocsDir("e47", Seq(
      (1L, "unique singular words", 20L), // every token df=1 → rarity 1.0
      (2L, "shared shared shared", 20L),  // df(shared)=2 → rarity 0.5
      (3L, "shared", 6L)))
    val m = graft.llm.QueriesE.all("e47_token_rarity")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(m(1L) == ((1.0, 3L)), s"all-hapax doc: $m")
    assert(m(2L) == ((0.5, 3L)), "repeated common token: mean of three 1/2 terms")
    assert(m(3L) == ((0.5, 1L)))
  }

  test("e48 removal audit assigns each verdict with its canonical doc") {
    // quality gate needs lang='en' and score >= 0.5 — long texts of
    // stopword-ish tokens score high; doc 4 is non-English (gate drop)
    val good = "the a of and to " * 30 + "the a of and to"
    val near1 = "alpha beta gamma delta epsilon zeta eta theta " * 12 + "one"
    val near2 = "alpha beta gamma delta epsilon zeta eta theta " * 12 + "two"
    val dir = s"/root/repo/target/fixtures/test/docs_e48"
    import spark.implicits._
    Seq(
      (1L, good, "en", "s", good.length.toLong),
      (2L, good, "en", "s", good.length.toLong),   // exact dup of 1
      (3L, near1, "en", "s", near1.length.toLong),
      (5L, near2, "en", "s", near2.length.toLong), // near dup of 3
      (4L, good, "fr", "s", good.length.toLong))   // lang gate drop
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.llm.QueriesE.all("e48_removal_audit")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(m(1L) == (("kept", 1L)))
    assert(m(2L) == (("exact_dup", 1L)), s"$m")
    assert(m(3L) == (("kept", 3L)))
    assert(m(5L) == (("near_dup", 3L)), s"near-dup canonicalizes to 3: $m")
    assert(m(4L) == (("low_quality", -1L)), "gate drop has no canonical")
  }

  test("e45 estimator: identical docs estimate and measure Jaccard 1.0 exactly") {
    val txt = "alpha beta gamma delta epsilon zeta"
    val dir = craftedDocsDir("e45", Seq((1L, txt, 40L), (2L, txt, 40L)))
    val rows = graft.llm.QueriesE.all("e45_minhash_estimate")(spark, dir).collect()
    assert(rows.length == 1, "one banded candidate pair")
    val r = rows(0)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0 && r.getDouble(4) == 0.0,
      s"identical docs: jaccard=est=1, err=0; got $r")
  }

  test("e46 source overlap buckets the near-dup pair into the unordered cell") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta " * 10
    val dir = "/root/repo/target/fixtures/test/docs_e46"
    import spark.implicits._
    Seq((1L, txt, "web", txt.length.toLong), (2L, txt, "books", txt.length.toLong))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.llm.QueriesE.all("e46_source_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows == Map(("books", "web") -> 1L),
      s"unordered (lo, hi) cell with one pair: $rows")
  }

  test("e49 sweep: survival counts are monotone non-increasing in the threshold") {
    val out = graft.llm.QueriesE.all("e49_threshold_sweep")(spark, TestSpark.Sf)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(0.3, 0.5, 0.7, 0.9))
    val counts = out.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"higher cutoff can only lose pairs: ${counts.toSeq}")
    assert(out.forall(r => r._2 <= r._3), "survivors bounded by candidates")
  }

  test("e31 source mix: weights normalize to 1 and order by token mass") {
    val out = graft.llm.QueriesE.all("e31_source_mix")(spark, TestSpark.Sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    val total = out.map(_._3).sum
    assert(math.abs(total - 1.0) < 1e-12, s"weights sum to $total")
    val byTokens = out.sortBy(_._2).map(_._1)
    val byWeight = out.sortBy(_._3).map(_._1)
    assert(byTokens.sameElements(byWeight), "weight is monotone in tokens")
  }

  test("e32 embed decontamination flags the planted near-duplicate only") {
    val dir = "/root/repo/target/fixtures/test/docs_e32"
    // vec 0 is the eval vector (0 % 97 == 0); vec 1 duplicates it exactly
    // (cos 1.0, same LSH bucket by construction); vec 2 is its negation
    // (cos −1, opposite bucket)
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val rows = Seq(
      (0L, base, 0), (1L, base.map(x => x * 0.5f), 1),
      (2L, base.map(x => -x), 2))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.llm.QueriesE.all("e32_embed_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(1L), s"only the scaled copy flags: ${out.toSeq}")
    assert(math.abs(out(0)._3 - 1.0) < 1e-12, "scaling preserves cosine = 1")
  }

  test("e41 ann recall: planted duplicate is always recalled; recall bounded by hits") {
    val dir = "/root/repo/target/fixtures/test/docs_e41"
    // vec 0 is the query (0 % 97 == 0); vec 1 scales it (cos 1.0, SAME
    // bucket — signs are scale-invariant, so the LSH path cannot miss
    // it); vecs 2..12 are phase-shifted fillers
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val rows = Seq((0L, base, 0), (1L, base.map(_ * 0.5f), 1)) ++
      (2L to 12L).map(j =>
        (j, Array.tabulate(64)(i => math.sin((i + 1) * (j + 2) * 0.37).toFloat), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.llm.QueriesE.all("e41_ann_recall")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L), "one query row (vec 0)")
    val (nCand, nHit, recall) =
      (out(0).getLong(1), out(0).getLong(2), out(0).getDouble(3))
    assert(nHit >= 1L, "the same-bucket duplicate is always a hit")
    assert(recall == nHit / 10.0, "recall is exactly hits over k")
    assert(nCand >= nHit, "hits are a subset of candidates")
  }

  test("e35 semantic dedup prunes scaled copies, keeps each cluster's first member") {
    val dir = "/root/repo/target/fixtures/test/docs_e35"
    // vecs 0-7 seed the k=8 k-means init (mutually far sin-phase vectors);
    // 8 and 9 are scaled copies of 0 and 3 — same cluster as their
    // original (scaling preserves the L2 argmin here) and cosine exactly
    // 1.0 ≥ τ, so both must be pruned; every cluster's min id must be kept
    val rows = (0L to 7L).map { j =>
      (j, Array.tabulate(64)(i => math.sin((i + 1) * (j + 1) * 0.7).toFloat), 0)
    } ++ Seq(
      (8L, Array.tabulate(64)(i => (math.sin((i + 1) * 0.7) * 0.9).toFloat), 1),
      (9L, Array.tabulate(64)(i => (math.sin((i + 1) * 4 * 0.7) * 0.8).toFloat), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.llm.QueriesE.all("e35_semantic_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    graft.Caches.drain()
    val kept = out.filter(_._3 == 1).map(_._1).toSet
    val clusterOf = out.map(r => r._1 -> r._2).toMap
    assert(!kept.contains(8L) && !kept.contains(9L),
      s"scaled copies must be pruned: $out")
    assert(clusterOf(8L) == clusterOf(0L) && clusterOf(9L) == clusterOf(3L),
      "copies must land in their original's cluster")
    out.groupBy(_._2).foreach { case (c, members) =>
      assert(kept.contains(members.map(_._1).min),
        s"min id of cluster $c must be kept")
    }
  }

  test("e36 packing: offsets chain per source and straddling docs span sequences") {
    val dir = "/root/repo/target/fixtures/test/docs_e36"
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    Seq(
      (1L, words(300), 300L, "s"), (2L, words(300), 300L, "s"),
      (3L, words(100), 100L, "s"), (4L, words(10), 10L, "t"))
      .toDF("doc_id", "text", "n_chars", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.llm.QueriesE.all("e36_pack_sequences")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(m(1L) == ((0L, 0L, 0L, 0L)), s"doc 1 opens seq 0: ${m(1L)}")
    assert(m(2L) == ((300L, 0L, 1L, 300L)),
      s"doc 2 (tokens 300-599) straddles seqs 0 and 1: ${m(2L)}")
    assert(m(3L) == ((600L, 1L, 1L, 88L)), s"doc 3 sits inside seq 1: ${m(3L)}")
    assert(m(4L) == ((0L, 0L, 0L, 0L)), "source t packs independently from s")
  }

  test("charPairs kernel matches the HOF spec on real docs; crafted case exact") {
    import org.apache.spark.sql.functions._
    // executable spec: per word, substrings [i, i+2) via interpreted HOFs
    def hofPairs(text: org.apache.spark.sql.Column) =
      flatten(transform(
        filter(split(text, " "), w => length(w) >= 2), // sequence(1,0) would DESCEND
        w => transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2)))))
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val diff = docs.select(
      graft.functions.TextExpressions.charPairs(col("text")).as("k"),
      hofPairs(col("text")).as("h"))
      .filter(not(col("k") <=> col("h"))).count()
    assert(diff == 0, s"kernel and HOF spec disagree on $diff docs")
    val one = docs.sparkSession.range(1).select(
      graft.functions.TextExpressions.charPairs(lit("ab x abc ")).as("p"))
      .collect()(0).getSeq[String](0)
    assert(one == Seq("ab", "ab", "bc"), s"'ab x abc ' pairs: $one")
  }

  test("e37 top pair reflects planted repetition") {
    val dir = craftedDocsDir("e37", Seq(
      (1L, "zq zq zq wk", 11L), (2L, "zq mn", 5L)))
    val out = graft.llm.QueriesE.all("e37_bpe_pairs")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.head == (("zq", 4L)), s"planted pair must rank first: ${out.toSeq}")
    assert(out.toMap == Map("zq" -> 4L, "wk" -> 1L, "mn" -> 1L))
  }

  test("e33 incremental ingest flags a delta doc duplicating the existing corpus") {
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    val dir = craftedDocsDir("e33", Seq(
      (1L, dup, 66L),                                            // existing
      (2L, "some completely different existing document text here", 51L),
      (10L, dup, 66L),                                           // delta dup of 1
      (20L, "a fresh unique delta document with novel content entirely", 57L)))
    val out = graft.llm.QueriesE.all("e33_incremental_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((10L, 1L, 1L)),
      s"only the duplicated delta doc flags, against doc 1: ${out.toSeq}")
  }

  test("e38 streaming ingest: id-ordered batch splits give the single-batch flags") {
    import org.apache.spark.sql.functions._
    val root = new java.io.File("/root/repo/target/fixtures/test/e38")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    val dup = "the quick brown fox jumps over the lazy dog tonight"
    val rows = Seq(
      (1L, dup), (2L, "a completely different first-batch document body"),
      (3L, dup),                                        // dups doc 1, later batch
      (4L, "novel second-batch content with unique words"),
      (5L, "novel second-batch content with unique words")) // dups 4, same batch
    def dfOf(ids: Seq[Long]) =
      rows.filter(r => ids.contains(r._1)).toDF("doc_id", "text")
    def flagsOf(batches: Seq[Seq[Long]], tag: String) = {
      val index = new java.io.File(root, s"$tag/index")
      val flags = new java.io.File(root, s"$tag/flags")
      wipe(index.getParentFile)
      batches.foreach(b =>
        graft.llm.Dedup.ingestBatch(dfOf(b), index.getPath, flags.getPath))
      spark.read.parquet(flags.getPath).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val split = flagsOf(Seq(Seq(1L, 2L), Seq(3L, 4L, 5L)), "split")
    val whole = flagsOf(Seq(Seq(1L, 2L, 3L, 4L, 5L)), "whole")
    assert(split == whole, s"batch split must not change flags: $split vs $whole")
    assert(split == Set((3L, 1L, 1L), (5L, 1L, 4L)),
      s"cross-batch dup (3←1) and within-batch dup (5←4) both flag: $split")
    // append-only index: ingesting a batch must not rewrite existing files
    // (the index is bucket-partitioned, so walk the bucket= dirs)
    val index = new java.io.File(root, "split/index")
    def files(): Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(index).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toSet
    }
    val before = files()
    graft.llm.Dedup.ingestBatch(
      Seq((6L, "yet another brand new unique document text")).toDF("doc_id", "text"),
      index.getPath, new java.io.File(root, "split/flags").getPath)
    assert(files().intersect(before) == before, "index files must be append-only")
  }

  test("e38 index is digest-bucketed and a batch reads only its buckets") {
    import org.apache.spark.sql.functions._
    val root = new java.io.File("/root/repo/target/fixtures/test/e38bkt")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(root)
    val index = new java.io.File(root, "index")
    val flags = new java.io.File(root, "flags")
    // 12 distinct docs -> 48 band digests spread over many of the 64 buckets
    val corpus = (1L to 12L).map(i =>
      (i, s"document number $i with its own distinct running text body $i"))
    graft.llm.Dedup.ingestBatch(corpus.toDF("doc_id", "text"),
      index.getPath, flags.getPath)
    val onDisk = index.listFiles().filter(_.getName.startsWith("bucket="))
      .map(_.getName).toSet
    assert(onDisk.size > 4, s"expected a spread of bucket dirs, got $onDisk")
    // a one-doc batch touches <= 4 buckets; the dirs selected for its index
    // join must be exactly its own buckets' dirs — a strict subset of the
    // index, pinning that ingest IO is O(touched buckets), not O(corpus)
    val probe = Seq((99L, "a brand new probe document body here")).toDF("doc_id", "text")
    val banded = graft.llm.Dedup.bandDigests(probe, "doc_id", "text")
      .withColumn("bucket", graft.llm.Dedup.indexBucket(col("digest")))
    val touched = banded.select("bucket").distinct().collect().map(_.getLong(0)).toSeq
    assert(touched.nonEmpty && touched.size <= 4)
    val dirs = graft.llm.Dedup.touchedIndexDirs(index.getPath, touched)
      .map(_.split('/').last).toSet
    assert(dirs.subsetOf(onDisk))
    assert(dirs.size < onDisk.size,
      s"probe batch must read a strict subset of bucket dirs ($dirs vs $onDisk)")
    assert(dirs == touched.map(b => s"bucket=$b").toSet.intersect(onDisk),
      "selected dirs must be exactly the probe's existing buckets")
  }

  test("e51 media phash: identical same-modality payloads pair at hamming 0; the aHash is a true decoded-luma hash") {
    val dup = "the quick brown fox jumps over the lazy dog again and again tonight"
    // doc_ids 3 and 6 are both images (doc_id % 3 == 0): identical text ⇒
    // byte-identical PNGs ⇒ identical decoded rasters ⇒ hamming 0
    val dir = craftedDocsDir("e51", Seq(
      (3L, dup, dup.length.toLong),
      (6L, dup, dup.length.toLong),
      (2L, "a completely different and much longer document body with distinct rhythm and vocabulary throughout", 101L)))
    val out = graft.llm.QueriesE.all("e51_media_phash_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.contains((3L, 6L, 0)), s"identical payloads must pair at hamming 0: ${out.toSeq}")
    // the image hash reads the REAL decoded raster: it equals the 8×8
    // grid aHash computed directly from the proportional text resample…
    val body = Multimodal.bodyOf(dup)
    val (w, h) = (Multimodal.ImgW, Multimodal.imgH(body.length))
    val raster = Multimodal.resample(body, w * h)
    val viaCodec = Multimodal.decodeOne(Multimodal.encodeOne(3L, dup)).phash
    assert(viaCodec == Multimodal.aHashImage(w, h, raster),
      "decoded-raster hash must equal the arithmetic ground truth")
    // …and editing a byte no grid cell samples leaves the hash unchanged,
    // while the grid samples only 64 of the w·h raster pixels
    val sampledPix = (for (i <- 0 until 8; j <- 0 until 8)
      yield (i * (h - 1) / 7) * w + (j * (w - 1) / 7)).toSet
    val sampledBytes = sampledPix.map(p => (p.toLong * (body.length - 1) / (w * h - 1)).toInt)
    val unsampled = body.indices.find(p => !sampledBytes.contains(p)).get
    val edited = dup.updated(unsampled, 'Z')
    assert(Multimodal.decodeOne(Multimodal.encodeOne(3L, edited)).phash == viaCodec,
      "an unsampled-byte edit must not perturb the image aHash")
    // 1-D variant (audio/video): same above-average semantics
    val a1 = Multimodal.aHash1D(body)
    assert(Multimodal.decodeOne(Multimodal.encodeOne(1L, dup)).phash == a1)
  }

  test("e52 fluency: corpus-typical text outscores rare-bigram junk") {
    // the junk doc's pairs must SHARE PREFIXES with the typical text
    // (bq/bx/bz vs the dominant ba) — an unsmoothed bigram model gives
    // P=1 to a unique continuation of a unique prefix, so junk with
    // never-seen prefixes would score perfectly (a real corpus has no
    // unseen prefixes; the crafted one must not either)
    val dir = craftedDocsDir("e52", Seq(
      (1L, "banana banana banana", 20L),
      (2L, "banana bandana banana", 21L),
      (3L, "bq bx bz", 8L))) // common prefix, rare continuations
    val out = graft.llm.QueriesE.all("e52_char_lm_score")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > out(3L) && out(2L) > out(3L),
      s"corpus-typical docs must outscore junk: $out")
  }

  test("e34 corpus diff classifies added/removed/changed correctly") {
    // ids chosen so each lands in exactly one class: 7 added (dropped
    // from v1), 13 removed (dropped from v2), 11 changed (rewritten in
    // v2), 1 unchanged (filtered out)
    val dir = craftedDocsDir("e34", Seq(
      (1L, "steady text", 11L), (7L, "new doc", 7L),
      (11L, "edited doc", 10L), (13L, "old doc", 7L)))
    val out = graft.llm.QueriesE.all("e34_corpus_diff")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(7L -> "added", 11L -> "changed", 13L -> "removed"))
  }

  test("e60 leakage split: clusters never straddle splits; splits partition the corpus") {
    val out = graft.llm.QueriesE.all("e60_leakage_split")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val nDocs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").count()
    assert(out.length == nDocs, "every doc is assigned exactly one split")
    // the property the query exists for: a near-dup cluster is atomic —
    // all its members share the representative's split
    val splitsPerCluster = out.groupBy(_._2).map { case (_, rs) => rs.map(_._3).distinct.size }
    assert(splitsPerCluster.forall(_ == 1), "no cluster straddles a split boundary")
    assert(out.map(_._3).distinct.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("e61 shuffle shard: per-shard seqs are contiguous 1..n and shuffle order is followed") {
    val out = graft.llm.QueriesE.all("e61_shuffle_shard")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val nDocs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").count()
    assert(out.length == nDocs)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      val bydSeq = rows.sortBy(_._4)
      assert(bydSeq.map(_._4).toSeq == (1L to rows.length).toSeq,
        s"shard $shard seqs must be contiguous from 1")
      // seq order IS (shuffle_key, doc_id) order
      assert(bydSeq.map(r => (r._3, r._1)).toSeq == rows.map(r => (r._3, r._1)).sorted.toSeq)
    }
  }

  test("e67 chunk windows: 45 tokens -> two overlapping chunks with exact spans") {
    val words = (1 to 45).map(i => s"w$i")
    val dir = craftedDocsDir("e67", Seq(
      (1L, words.mkString(" "), 200L),
      (2L, "tiny doc", 8L)))
    val out = graft.llm.QueriesE.all("e67_chunk_windows")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // doc 1: starts at 0 and 32 — chunk 0 is w1..w40, chunk 1 is w33..w45
    // (13 tokens, clamped); doc 2 fits in one 2-token chunk
    assert(out.toSet == Set(
      (1L, 0L, 0L, 40, md5hex(words.take(40).mkString(" "))),
      (1L, 1L, 32L, 13, md5hex(words.drop(32).mkString(" "))),
      (2L, 0L, 0L, 2, md5hex("tiny doc"))),
      s"got ${out.toSeq}")
  }

  test("e68 winsorize: classification sums to total and thresholds are data values") {
    val out = graft.llm.QueriesE.all("e68_length_winsorize")(spark, TestSpark.Sf).collect()
    assert(out.nonEmpty)
    val lengths = spark.read
      .parquet(s"${TestSpark.Sf}/documents.parquet")
      .select("source", "n_chars").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    out.foreach { r =>
      val (src, lo, hi) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(lo <= hi)
      // percentile_disc returns actual data values, never interpolations
      assert(lengths(src).contains(lo) && lengths(src).contains(hi))
      assert(r.getLong(4) + r.getLong(5) + r.getLong(6) == r.getLong(3),
        s"low+high+kept must partition total for $src")
    }
  }

  test("e69 cluster cap: at most 25 per cluster, ranks contiguous, most-central kept") {
    val out = graft.llm.QueriesE.all("e69_cluster_cap")(spark, TestSpark.Sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    graft.Caches.drain()
    out.groupBy(_._1).foreach { case (cl, rows) =>
      assert(rows.length <= 25, s"cluster $cl exceeds the cap")
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).toSeq,
        s"cluster $cl ranks must be contiguous from 1")
      // rank order IS (dist, vec_id) order
      val byRank = rows.sortBy(_._2).map(r => (r._4, r._3)).toSeq
      assert(byRank == byRank.sorted, s"cluster $cl must rank by (dist, vec_id)")
    }
  }

  test("e70 gram novelty: verbatim duplicate scores 0, fresh text scores 1") {
    val dir = craftedDocsDir("e70", Seq(
      (1L, "a b c d e f", 11L),        // 2 distinct 5-grams, both first here
      (2L, "a b c d e f", 11L),        // verbatim dup: zero novel
      (3L, "p q r s t u", 11L),        // all novel
      (4L, "x y", 3L)))                // no 5-grams at all
    val out = graft.llm.QueriesE.all("e70_gram_novelty")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSet == Set(
      (1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0), (3L, 2L, 2L, 1.0), (4L, 0L, 0L, 0.0)),
      s"got ${out.toSeq}")
  }

  test("e71 data card: cross-source dup burden, token stats, language purity") {
    val dir = "/root/repo/target/fixtures/test/docs_e71"
    Seq(
      (1L, "the a of and to", "src0", "en", 15L),
      (2L, "the a of and to", "src0", "en", 15L),  // dup of 1 (same source)
      (3L, "completely unique text here", "src0", "de", 27L),
      (4L, "the a of and to", "src1", "en", 15L),  // dup of 1 (cross-source)
      (5L, "another singleton document", "src1", "en", 26L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.QueriesE.all("e71_source_datacard")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6))).toMap
    graft.Caches.drain()
    // a digest seen 3x globally marks ALL its members dup, per their source
    assert(out("src0") == ((3L, 14L, 5L, 2L, out("src0")._5, 2L)), s"src0: ${out("src0")}")
    assert(out("src1") == ((2L, 8L, 3L, 2L, out("src1")._5, 1L)), s"src1: ${out("src1")}")
    assert(out.values.forall(v => v._5 > 0.0 && v._5 <= 1.0), "quality in (0,1]")
  }

  test("e72 manifest: contiguous resume seqs; split/shard agree with e60/e61") {
    val m = graft.llm.QueriesE.all("e72_training_manifest")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val splits = graft.llm.QueriesE.all("e60_leakage_split")(spark, TestSpark.Sf)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val shards = graft.llm.QueriesE.all("e61_shuffle_shard")(spark, TestSpark.Sf)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    graft.Caches.drain()
    assert(m.length == splits.size, "one manifest row per doc")
    assert(m.forall(x => splits(x._1) == x._2), "split must be e60's assignment")
    assert(m.forall(x => shards(x._1) == x._3), "shard must be e61's routing")
    m.groupBy(x => (x._2, x._3)).foreach { case (g, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"seqs in $g must be contiguous from 1")
    }
  }

  test("e62 dup spans: shared 7-word run merges into one maximal span per doc") {
    val dir = craftedDocsDir("e62", Seq(
      // docs 1 and 2 share the 7-word run "a b c d e f g" (three
      // overlapping 5-grams → ONE merged span each), at offsets 0 and 2
      (1L, "a b c d e f g h i j", 19L),
      (2L, "x y a b c d e f g z", 19L),
      (3L, "totally unrelated words with no overlap at all here", 51L)))
    val out = graft.llm.QueriesE.all("e62_dup_spans")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set((1L, 0L, 6L, 7L), (2L, 2L, 8L, 7L)),
      s"expected one maximal 7-token span per sharing doc, got ${out.toSeq}")
  }

  test("e64 persisted IVF index: the probe partition-prunes to the probed lists") {
    val df = graft.llm.QueriesE.all("e64_ann_index_persist")(spark, TestSpark.Sf)
    val top = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    graft.Caches.drain()
    assert(top.length == 5, "probe returns the top-5")
    // the scan over the persisted index must carry the list_id partition
    // filter — the probe opens nprobe directories, never the whole index
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("list_id")),
      s"probe scan must partition-prune on list_id:\n$plan")
  }

  test("e89 persisted rebalance: after-arm probe prunes to the NEW list ids") {
    val df = graft.llm.QueriesE.all("e89_rebalance_persist")(spark, TestSpark.Sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(rows.nonEmpty, "after-arm probe returns per-query top-k")
    // the serving scan reads the SWAPPED layout under a list_id partition
    // filter — probe IO stays nprobe dirs after the maintenance op
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("list_id")),
      s"after-arm probe must partition-prune on list_id:\n$plan")
    // every opened file sits inside a probed list's dir, and the probed
    // set is drawn from the post-split id space (some query must probe
    // the split hot list or the appended list id 8 — the split moved the
    // densest region, so the probe sets cannot all avoid it)
    val probed = df.inputFiles.map(_.split("/").reverse.find(_.startsWith("list_id=")).get).toSet
    assert(probed.nonEmpty && probed.forall(_.matches("list_id=\\d+")))
    graft.Caches.drain()
  }

  test("e83 k-anonymity: kept / generalized / suppressed paths all exercise") {
    import spark.implicits._
    val dir = "/root/repo/target/fixtures/test/docs_e83"
    // source A: 5 'en' (kept at k=5) + 5 singleton langs (generalize: the
    // small remainder is 5 => lang '*'); source B: 2 singleton langs
    // (remainder 2 < 5 => suppressed)
    val rows =
      (1L to 5L).map(i => (i, "A", "en")) ++
        (6L to 10L).map(i => (i, "A", s"l$i")) ++
        Seq((11L, "B", "x"), (12L, "B", "y")) ++
        // NULL lang is a GROUP VALUE (the '(null)' sentinel), not a join
        // wildcard — a k-sized null-lang group must be RELEASED, not
        // silently dropped by null-equality joins
        (13L to 17L).map(i => (i, "C", null: String))
    rows.toDF("doc_id", "source", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.QueriesE.all("e83_k_anonymity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    val byId = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert((1L to 5L).forall(byId(_) == (("en", 5L))), "k-sized group keeps lang")
    assert((6L to 10L).forall(byId(_) == (("*", 5L))),
      "small-group remainder of size k generalizes to '*'")
    assert(!byId.contains(11L) && !byId.contains(12L),
      "sub-k remainder is suppressed entirely")
    assert((13L to 17L).forall(byId(_) == (("(null)", 5L))),
      "k-sized NULL-lang group must be released under the sentinel")
    assert(out.length == 15)
  }

  test("e84 l-diversity: a k-large but lang-uniform group is NOT released") {
    import spark.implicits._
    val dir = "/root/repo/target/fixtures/test/docs_e84"
    val rows =
      (1L to 6L).map(i => (i, "A", "en")) ++                   // k ok, 1 lang
        (7L to 12L).map(i => (i, "B", Seq("en", "de", "fr")((i % 3).toInt))) ++
        Seq((13L, "C", "en"), (14L, "C", "de"), (15L, "C", "fr")) ++ // 3 langs, k < 5
        (16L to 21L).map(i =>
          (i, "D", if (i % 3 == 0) null else s"l${i % 3}")) // null = 3rd value
    rows.toDF("doc_id", "source", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.QueriesE.all("e84_l_diversity")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert((1L to 6L).forall(!out(_)), "homogeneous group leaks its lang: suppress")
    assert((7L to 12L).forall(out(_)), "k-large, 3-diverse group releases")
    assert((13L to 15L).forall(!out(_)), "diverse but sub-k group suppresses")
    assert((16L to 21L).forall(out(_)), "null lang counts as a distinct sensitive value")
  }

  test("e85 recall grader: both arms bounded and consistent; query set is the eval sample") {
    val out = graft.llm.QueriesE.all("e85_rebalance_recall")(spark, TestSpark.Sf)
      .collect()
    graft.Caches.drain()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, ncb, nhb, rb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val (nca, nha, ra) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(qid % 97 == 0, "queries are the % 97 eval sample")
      assert(nhb <= 10 && nha <= 10 && nhb <= ncb && nha <= nca,
        s"hits bounded by top-k and candidates: $r")
      assert(rb == nhb / 10.0 && ra == nha / 10.0, "recall is exactly hits/10")
    }
  }

  test("e86 BM25 AND+phrase: conjunctive gate excludes partial matches; phrase ranks first") {
    val dir = craftedDocsDir("e86", Seq(
      (1L, "hash join scan filler words here", 32L),          // all terms + phrase
      (2L, "join hash words scan other filler", 32L),         // all terms, no phrase
      (3L, "hash hash hash join join join only two terms", 45L), // missing 'scan'
      (4L, "nothing relevant at all in this document", 40L)))
    val out = graft.llm.QueriesE.all("e86_bm25_phrase")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    graft.Caches.drain()
    assert(out.map(_._1).toSet == Set(1L, 2L), s"AND gate keeps only full matches: ${out.toSeq}")
    assert(out.head == ((1L, true)) && out(1) == ((2L, false)),
      "the phrase-bearing doc ranks first")
  }

  test("e82 persisted lexical index: the probe partition-prunes to the terms' buckets") {
    val df = graft.llm.QueriesE.all("e82_bm25_index_persist")(spark, TestSpark.Sf)
    val top = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    graft.Caches.drain()
    assert(top.length == 10, "probe returns the top-10")
    // the scan over the persisted postings must carry the bucket
    // partition filter — a query opens its terms' directories, never the
    // whole vocabulary
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("bucket")),
      s"probe scan must partition-prune on bucket:\n$plan")
    // identical rows to the corpus-scan scorer (e80) — only the access
    // path differs
    val e80 = graft.llm.QueriesE.all("e80_bm25_retrieval")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    graft.Caches.drain()
    assert(top.map(r => (r.getLong(0), r.getDouble(1))).toSeq == e80.toSeq,
      "index probe and corpus scan must agree bit-exactly")
  }

  test("e91 learned langid reaches 1.0 held-out accuracy on a planted distribution") {
    import spark.implicits._
    val dir = "/root/repo/target/fixtures/test/docs_e91"
    // two 'languages' with sharply different token distributions (the
    // signal the synthetic corpus's lang column lacks); doc_id%5==0 is
    // the held-out split the query grades on
    val rows = (1L to 40L).map { i =>
      val (lang, text) =
        if (i % 2 == 0)
          ("aa", if (i % 4 == 0) "alpha beta alpha gamma alpha beta alpha"
                 else "beta alpha alpha gamma beta alpha beta alpha")
        else
          ("bb", if (i % 4 == 1) "delta omega delta omega omega delta omega"
                 else "omega delta omega omega delta delta omega")
      (i, text, lang, "srcX", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.llm.QueriesE.all("e91_langid_learned")(spark, dir).collect()
    graft.Caches.drain()
    val acc = out.map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(acc == Map("aa" -> 1.0, "bb" -> 1.0),
      s"NB must learn the planted distributions perfectly: ${out.map(_.toSeq).toSeq}")
  }

  test("e90 IVFADC: code scan partition-prunes to probed lists; recall positive") {
    val df = graft.llm.QueriesE.all("e90_ann_ivfpq")(spark, TestSpark.Sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val plan = df.queryExecution.executedPlan.toString
    graft.Caches.drain()
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L), "one row per query")
    // the pruned-ADC path must find at least part of the exact top-5 —
    // a recall of 0 across all queries means the compose is broken even
    // if the arithmetic matches the oracle
    assert(rows.map(_._2).sum > 0, s"IVFADC recall must be positive: ${rows.toSeq}")
    // the serving scan reads code partitions, pruned to the probed lists
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("list_id")),
      s"code scan must partition-prune on list_id:\n$plan")
    // the persisted artifact holds codes only — no raw vectors (e90
    // serves straight from the shared pristine root since the r15
    // clone refactor; the name is pinned by buildIvfPqIndex's caller)
    val out = graft.Scratch.root(TestSpark.Sf, "ivfpq_pristine_index")
    val cols = spark.read.parquet(out).columns.toSet
    assert(cols == Set("vec_id", "list_id", "code0", "code1", "code2", "code3"),
      s"IVFADC index stores codes, not vectors: $cols")
  }

  test("e92/e93: query batch is a true parameter; re-rank never loses recall") {
    def arms(name: String) = graft.llm.QueriesE.all(name)(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    val e92 = arms("e92_ann_other_queries")
    val e93 = arms("e93_ann_ivfadc_rerank")
    graft.Caches.drain()
    // synthetic, non-corpus qids flow through the whole serve+grade path
    assert(e92.map(_._1).toSeq == Seq(9000000L, 9000001L, 9000002L),
      s"e92 must answer the synthetic query ids: ${e92.toSeq}")
    assert(e93.map(_._1).toSeq == Seq(0L, 1L, 2L), "e93 keeps e90's frozen queries")
    // the IVFADC-R dominance claim (Jégou et al. 2011 §V): exact
    // re-ranking over a candidate superset of the ADC top-5, graded by
    // the same metric as the truth arm, can never lose a true hit —
    // per-query, not just in aggregate
    (e92 ++ e93).foreach { case (qid, rr, adc) =>
      assert(rr >= adc,
        s"re-rank recall must dominate plain ADC at equal probe budget (qid=$qid: $rr < $adc)")
    }
  }

  test("bm25PhraseRanked rejects a 1-term list with no phrase (not an index error)") {
    val e = intercept[IllegalArgumentException] {
      graft.llm.QueriesE.bm25PhraseRanked(spark, TestSpark.Sf, Seq("hash"), None)
    }
    assert(e.getMessage.contains("phrase"), s"meaningful message, got: ${e.getMessage}")
    // a 1-term list WITH an explicit phrase is legal
    graft.llm.QueriesE.bm25PhraseRanked(spark, TestSpark.Sf,
      Seq("hash"), Some(("hash", "join"))).collect()
    graft.Caches.drain()
  }

  test("bm25: one persisted index serves ANY term set (layout is term-independent)") {
    import graft.llm.QueriesE
    val root = java.nio.file.Files.createTempDirectory("bm25idx").toString + "/idx"
    // build once with the default (frozen) terms…
    QueriesE.buildBm25Index(spark, TestSpark.Sf, root).collect()
    // …then probe the SAME index with e88's 4-term query: pruned probe
    // rows must equal the corpus-scan scorer's top-10 for those terms
    val probe = QueriesE.bm25ProbePruned(spark, root, TestSpark.Sf, QueriesE.E88Terms)
    val probed = probe.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val plan = probe.queryExecution.executedPlan.toString
    val scan = QueriesE.bm25Scores(spark, TestSpark.Sf, QueriesE.E88Terms)
      .orderBy(org.apache.spark.sql.functions.col("score").desc,
        org.apache.spark.sql.functions.col("doc_id"))
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    graft.Caches.drain()
    assert(probed.toSeq == scan.toSeq,
      "pruned probe with alternate terms must match the corpus scan bit-exactly")
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("bucket")),
      s"alternate-term probe must still partition-prune on bucket:\n$plan")
  }

  test("e65 contamination spans: eval text inside a train doc is localized exactly") {
    val dir = craftedDocsDir("e65", Seq(
      // doc 0 (0 % 97 = 0) is the eval stand-in; train doc 1 embeds its
      // 7-word run at offset 2; train doc 2 is clean
      (0L, "a b c d e f g", 13L),
      (1L, "x y a b c d e f g z w", 21L),
      (2L, "nothing shared with the held out benchmark here at all", 54L)))
    val out = graft.llm.QueriesE.all("e65_contam_spans")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set((1L, 2L, 8L, 7L)),
      s"expected the embedded eval run localized in doc 1 only, got ${out.toSeq}")
  }

  test("e66 span scrub: cutting the eval run leaves exactly the surrounding words") {
    val dir = craftedDocsDir("e66", Seq(
      (0L, "a b c d e f g", 13L),
      (1L, "x y a b c d e f g z w", 21L),
      (2L, "nothing shared with the held out benchmark here at all", 54L)))
    val out = graft.llm.QueriesE.all("e66_span_scrub")(spark, dir).collect()
    graft.Caches.drain()
    assert(out.length == 1, s"only doc 1 is touched: ${out.toSeq}")
    val r = out(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 11L && r.getLong(2) == 4L)
    // the scrubbed text is exactly "x y z w"
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("x y z w".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(3) == expected, "scrub digest must match the surviving words")
  }

  test("e24 pii scrub: planted email/url/phone all redacted exactly once") {
    val out = graft.llm.QueriesE.all("e24_pii_scrub")(spark, TestSpark.Sf).collect()
    assert(out.length > 0)
    out.foreach { r =>
      assert(r.getInt(1) == 1, s"doc ${r.getLong(0)}: n_emails=${r.getInt(1)}")
      assert(r.getInt(2) == 1, s"doc ${r.getLong(0)}: n_urls=${r.getInt(2)}")
      assert(r.getInt(3) == 1, s"doc ${r.getLong(0)}: n_phones=${r.getInt(3)}")
    }
  }

  // ---- e94 compactIvfPqDeletes crash injection (the compactStreamIndex
  // matrix mirrored onto the sibling .stage_l/.bak_l protocol) ----

  /** A tiny list-partitioned code layout standing in for the IVFPQ index:
    * vec_id i lives in list i % 3. Same (vec_id, code*, list_id=) shape
    * compactIvfPqDeletes folds; contents don't matter to the swap paths.
    */
  private def writeMiniIndex(ids: Seq[Long]): java.io.File = {
    val root = new java.io.File(
      java.nio.file.Files.createTempDirectory("ivfpq-crash").toFile, "idx")
    ids.map(i => (i, i.toInt, (i % 3).toInt)).toDF("vec_id", "code0", "list_id")
      .write.partitionBy("list_id").parquet(root.getPath)
    root
  }

  test("e94 delete lifecycle: tombstone masks, fold rewrites only touched lists") {
    val root = writeMiniIndex(0L to 8L)
    graft.llm.QueriesE.deleteFromIvfPqIndex(spark, root.getPath,
      Seq(4L).toDF("vec_id"))
    // tombstone written, physical layout untouched
    assert(new java.io.File(root, "_tombstones").isDirectory)
    assert(spark.read.parquet(root.getPath)
      .filter(col("vec_id") === 4L).count() == 1L,
      "the delete is logical until compaction")
    val untouchedMtime = new java.io.File(root, "list_id=0").lastModified()
    graft.llm.QueriesE.compactIvfPqDeletes(spark, root.getPath)
    val left = spark.read.parquet(root.getPath)
      .select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    assert(left.toSeq == Seq(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L),
      s"fold removed exactly the tombstoned row: ${left.toSeq}")
    assert(!new java.io.File(root, "_tombstones").exists(),
      "tombstones reclaimed after the fold")
    assert(new java.io.File(root, "list_id=0").lastModified() == untouchedMtime,
      "lists without tombstoned rows are never rewritten")
    assert(Option(root.getParentFile.listFiles()).get.map(_.getName).toSeq ==
      Seq("idx"), "no .stage_l/.bak_l residue after a clean fold")
  }

  test("e94 recovery restores a crash INSIDE the sibling swap (orphaned .bak_l)") {
    val root = writeMiniIndex(0L to 5L)
    // crash window: list_id=1 was renamed aside to <root>.bak_l1, the
    // process died before the staged dir took its place — the list is
    // GONE from the readable layout, its rows invisible
    val live = new java.io.File(root, "list_id=1")
    val bak = new java.io.File(root.getPath + ".bak_l1")
    assert(live.renameTo(bak), "test setup: orphan the list aside")
    assert(spark.read.parquet(root.getPath).count() == 4L)
    spark.catalog.refreshByPath(root.getPath) // test isolation, not the fix
    graft.llm.QueriesE.compactIvfPqDeletes(spark, root.getPath)
    // no tombstones: recovery alone must restore the orphan AND refresh
    // the listing cache (the unconditional-refresh window, ADVICE r10)
    val ids = spark.read.parquet(root.getPath)
      .select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    assert(ids.toSeq == (0L to 5L), s"orphaned list restored: ${ids.toSeq}")
    assert(!bak.exists() && live.isDirectory, "residue fully reclaimed")
  }

  test("e94 recovery drops a superseded .bak_l when the live list exists") {
    val root = writeMiniIndex(0L to 5L)
    // crash window: swap promoted the rewritten list but died before
    // wiping the backup — the .bak_l holds the pre-fold copy
    val bak = new java.io.File(root.getPath + ".bak_l2")
    Seq((2L, 2, 2), (5L, 5, 2)).toDF("vec_id", "code0", "list_id")
      .write.parquet(bak.getPath)
    graft.llm.QueriesE.compactIvfPqDeletes(spark, root.getPath)
    assert(!bak.exists(), "superseded backup reclaimed")
    assert(spark.read.parquet(root.getPath).count() == 6L,
      "live layout unchanged by the drop")
  }

  test("e94 recovery reclaims a stranded .stage_l (and it never pollutes discovery)") {
    val root = writeMiniIndex(0L to 5L)
    // crash window: the rewritten list was staged but never promoted
    val stage = new java.io.File(root.getPath + ".stage_l0")
    Seq((0L, 0, 0)).toDF("vec_id", "code0", "list_id")
      .write.parquet(stage.getPath)
    graft.llm.QueriesE.compactIvfPqDeletes(spark, root.getPath)
    assert(!stage.exists(), "un-promoted stage always reclaimed")
    assert(spark.read.parquet(root.getPath).count() == 6L)
  }

  test("e94 fold wipes a list whose rows are all tombstoned") {
    val root = writeMiniIndex(0L to 5L)
    // list_id=1 holds exactly {1, 4}: tombstone both
    graft.llm.QueriesE.deleteFromIvfPqIndex(spark, root.getPath,
      Seq(1L, 4L).toDF("vec_id"))
    graft.llm.QueriesE.compactIvfPqDeletes(spark, root.getPath)
    assert(!new java.io.File(root, "list_id=1").exists(),
      "an emptied list dir is dropped, not rewritten empty")
    val ids = spark.read.parquet(root.getPath)
      .select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(0L, 2L, 3L, 5L))
  }

  test("plain-IVF artifacts mask tombstones: a deleted vec_id never serves from the raw layout") {
    val root = writeMiniIndex(0L to 8L)
    graft.llm.QueriesE.deleteFromIvfPqIndex(spark, root.getPath,
      Seq(4L).toDF("vec_id"))
    // readIndexMasked is the read path of e64's probe, f26's streamed
    // probe, and e89's rebalance serve — the r10 verdict's tombstone hole
    val served = graft.llm.Similarity.readIndexMasked(spark, root.getPath)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(!served.contains(4L) && served.length == 8,
      s"tombstoned id must not serve: ${served.toSeq}")
    // the mask must not defeat partition pruning: list 1 = {1,4,7} on
    // disk, serves {1,7} under the mask
    val pruned = graft.llm.Similarity.readIndexMasked(spark, root.getPath)
      .filter(col("list_id") === 1)
    assert(pruned.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 7L))
  }

  // ---- e95 BM25 posting-index deletes: the SAME shared tombstone fold
  // (Database.compactTombstones) on the sparse arm — bucket= dirs keyed
  // by doc_id. The structural difference from e94: a doc's postings span
  // MULTIPLE partition dirs (one per distinct word-hash bucket), so the
  // fold must rewrite every bucket holding one — and only those. ----

  /** Tiny bucket-partitioned posting layout: doc d posts word w(d%4) into
    * bucket d%4 and w((d+1)%4) into bucket (d+1)%4 — two buckets per doc.
    */
  private def writeMiniPostings(docs: Seq[Long]): java.io.File = {
    val root = new java.io.File(
      java.nio.file.Files.createTempDirectory("bm25-crash").toFile, "idx")
    docs.flatMap(d => Seq(
        (d, s"w${d % 4}", 1L, 3L, (d % 4).toInt),
        (d, s"w${(d + 1) % 4}", 2L, 3L, ((d + 1) % 4).toInt)))
      .toDF("doc_id", "word", "tf", "len", "bucket")
      .write.partitionBy("bucket").parquet(root.getPath)
    root
  }

  test("e95 delete lifecycle: tombstone is logical; fold rewrites exactly the buckets holding the doc's postings") {
    val root = writeMiniPostings(0L to 7L)
    graft.llm.QueriesE.deleteFromBm25Index(spark, root.getPath,
      Seq(5L).toDF("doc_id"))
    assert(new java.io.File(root, "_tombstones").isDirectory)
    assert(spark.read.parquet(root.getPath)
      .filter(col("doc_id") === 5L).count() == 2L,
      "the delete is logical until compaction")
    // doc 5 posts into buckets 1 and 2; bucket 0 holds docs {0,3,4,7}
    val untouchedMtime = new java.io.File(root, "bucket=0").lastModified()
    graft.llm.QueriesE.compactBm25Deletes(spark, root.getPath)
    val left = spark.read.parquet(root.getPath)
    assert(left.filter(col("doc_id") === 5L).count() == 0L,
      "every posting of the tombstoned doc is gone from the layout")
    assert(left.count() == 14L,
      "no other doc's postings were dropped")
    assert(!new java.io.File(root, "_tombstones").exists(),
      "tombstones reclaimed after the fold")
    assert(new java.io.File(root, "bucket=0").lastModified() == untouchedMtime,
      "buckets without the doc's postings are never rewritten")
    assert(Option(root.getParentFile.listFiles()).get.map(_.getName).toSeq ==
      Seq("idx"), "no .stage_l/.bak_l residue after a clean fold")
  }

  test("e95 recovery restores an orphaned .bak_l on the bucket layout") {
    val root = writeMiniPostings(0L to 3L)
    // crash window: bucket=2 renamed aside, process died pre-promotion
    val live = new java.io.File(root, "bucket=2")
    val bak = new java.io.File(root.getPath + ".bak_l2")
    assert(live.renameTo(bak), "test setup: orphan the bucket aside")
    spark.catalog.refreshByPath(root.getPath) // test isolation, not the fix
    graft.llm.QueriesE.compactBm25Deletes(spark, root.getPath)
    assert(!bak.exists() && live.isDirectory, "orphaned bucket restored")
    assert(spark.read.parquet(root.getPath).count() == 8L,
      "all postings readable again after recovery")
  }

  test("e98 stats refresh: compacted-index serve equals a fresh rebuild on the post-delete corpus") {
    import graft.llm.QueriesE
    val dir = TestSpark.Sf
    val ids = QueriesE.E98ForgetIds
    val tmp = java.nio.file.Files.createTempDirectory("e98-refresh").toFile
    val root = new java.io.File(tmp, "idx").getPath
    QueriesE.buildBm25Index(spark, dir, root): Unit
    QueriesE.deleteFromBm25Index(spark, root, ids.toDF("doc_id"))
    QueriesE.compactBm25Deletes(spark, root)
    val refreshedStats = QueriesE.bm25StatsExcluding(spark, dir, ids)
    // the refresh really moves the stats: nd drops by the ids present
    val present = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull &&
        col("doc_id").isin(ids.map(_.asInstanceOf[Any]): _*)).count()
    assert(refreshedStats._1 == QueriesE.bm25Stats(spark, dir)._1 - present,
      "refreshed doc count = index-time count minus the forgotten docs")
    val served = QueriesE.bm25ProbePruned(spark, root, dir,
        statsOverride = Some(refreshedStats))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // rebuild-equivalence arm: a BRAND-NEW index over the corpus minus
    // the forget docs must serve bit-identical rows with the same stats
    val fresh = new java.io.File(tmp, "fresh").getPath
    QueriesE.postingRows(
        QueriesE.bm25Words(spark, dir)
          .filter(!col("doc_id").isin(ids.map(_.asInstanceOf[Any]): _*)))
      .write.partitionBy("bucket").parquet(fresh)
    val rebuilt = QueriesE.bm25ProbePruned(spark, fresh, dir,
        statsOverride = Some(refreshedStats))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == rebuilt,
      s"compacted+refreshed serve must equal the rebuild: $served vs $rebuilt")
  }

  test("e97 forget cascade: no artifact serves a forgotten id; audited counts are consistent") {
    val df = graft.llm.QueriesE.all("e97_forget_cascade")(spark, TestSpark.Sf)
    val m = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("documents", "forgotten_present")) == 0L)
    assert(m(("sparse_index", "serve_forgotten_hits")) == 0L)
    assert(m(("dense_index", "serve_forgotten_hits")) == 0L)
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val present = docs.filter(col("doc_id").isin(
      graft.llm.QueriesE.E97ForgetIds.map(_.asInstanceOf[Any]): _*)).count()
    assert(m(("documents", "rows_remaining")) == docs.count() - present)
    assert(m(("sparse_index", "serve_rows")) >= 1L)
    assert(m(("dense_index", "serve_rows")) >= 1L)
  }
}
