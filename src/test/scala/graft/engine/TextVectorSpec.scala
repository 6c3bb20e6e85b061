package graft.engine

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** SURVEY §5.2 — LLM-pipeline text + vector operators. */
class TextVectorSpec extends SparkTestBase {

  test("q60 exact dedup: duplicate text collapses to min doc_id") {
    val rows = TextOps.q60(spark, fx).collect()
    assert(rows.length === 3) // 4 docs, one exact-dup pair
    val dup = rows.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) === 0L) // keeper is min(0, 1)
  }

  test("q61 exact Jaccard: only the identical pair clears 0.8; " +
    "bitset and prefix-filter paths agree") {
    val fast = TextOps.q61(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fast.toSeq === Seq((0L, 1L, 1.0))) // docs 0&2 share 4/6 → 0.667 < 0.8
    // force the general prefix-filter path on the same data and compare
    val dt = Tables.documents(spark, fx)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tk"))
    val slow = graft.api.GraftOps.jaccardPairs(dt, "doc_id", "tk", 80).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(slow.toSeq === fast.toSeq)
  }

  test("q62 LSH: every reported pair is exact-verified, and recall vs q61 is 1.0 here") {
    val lsh = TextOps.q62(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = TextOps.q61(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification means no false positives
    assert(exact.subsetOf(lsh)) // identical docs collide in every band
  }

  test("q63/q64: term stats are ranked deterministically") {
    val tf = TextOps.q63(spark, fx).collect()
    assert(tf.forall(_.getInt(1) <= 10))
    val tfidf = TextOps.q64(spark, fx).collect()
    assert(tfidf.map(_.getLong(0)).distinct.length === 4) // one top term per doc
  }

  test("q65 quality flags: tiny docs fail length, dup prefixes flagged") {
    val rows = TextOps.q65(spark, fx).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(3L).getAs[Int]("len_ok") === 0) // "omega psi chi" < 100 chars
    assert(rows(0L).getAs[Int]("dup_prefix") === 1) // docs 0,1 share prefix
    assert(rows(1L).getAs[Int]("dup_prefix") === 1)
    assert(rows(3L).getAs[Int]("dup_prefix") === 0)
  }

  test("graft_dot: native expression matches hand math, null-safe") {
    graft.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0)))
      .toDF("a", "b")
    val dots = df.selectExpr("graft_dot(a, b)").collect().map(_.getDouble(0))
    assert(dots.toSeq === Seq(32.0, 0.0))
    val withNull = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b").selectExpr("graft_dot(a, b)").collect()
    assert(withNull(0).isNullAt(0))
  }

  test("q66 cosine top-k: nearest neighbor of v0 is v1, ranks deterministic") {
    val nn = VectorOps.q66(spark, fx).collect()
    val v0 = nn.filter(_.getLong(0) == 0L)
    assert(v0.head.getLong(2) === 1L) // [1,0,0] ~ [0.9,0.1,0]
    assert(v0.head.getDouble(3) > 0.99)
    assert(nn.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(1)).toSeq.sorted ==
      (1 to 3).toSeq)) // 4 vectors ⇒ 3 neighbors each
  }

  test("q67 kNN labels: v0 classified by its neighborhood") {
    val rows = VectorOps.q67(spark, fx).collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getAs[Int]("pred_label") === 0) // neighbor v1 shares label 0
  }

  test("q68 multimodal join: dims and hashes line up") {
    val rows = VectorOps.q68(spark, fx).collect()
    assert(rows.length === 4)
    assert(rows.forall(_.getAs[Int]("dim") == 3))
    val r01 = rows.filter(r => r.getLong(0) <= 1L).map(_.getString(1))
    assert(r01.distinct.length === 1) // exact-dup docs hash identically
  }

  test("q73 lang-id: total over all docs, scores bounded by profile size") {
    val rows = TextOps.q73(spark, fx).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 10L)
      assert(r.getString(1).nonEmpty)
    }
  }

  test("q74 token counting: whitespace vs regex token classes") {
    val r = TextOps.q74(spark, fx).collect().find(_.getLong(0) == 3L).get
    assert(r.getAs[Int]("ws_tokens") === 3)
    assert(r.getAs[Int]("alpha_tokens") === 3)
    assert(r.getAs[Int]("digit_tokens") === 0)
    assert(r.getAs[Int]("alpha_chars") === 11)
  }

  test("q75 fingerprint: exact duplicates share it, 3-token doc has 1 shingle") {
    val rows = TextOps.q75(spark, fx).collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getString(1) === rows(1L).getString(1)) // same text
    assert(rows(0L).getString(1) !== rows(2L).getString(1))
    assert(rows(3L).getAs[Int]("n_shingles") === 1)
  }

  test("q79 SimHash: exact duplicates collide at hamming 0; banding finds them") {
    val rows = TextOps.q79(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.contains((0L, 1L, 0))) // identical text ⇒ identical fingerprint
    assert(rows.forall { case (d1, d2, h) => d1 < d2 && h >= 0 && h <= 3 })
    assert(rows.distinct.length === rows.length) // band dedup worked
  }

  test("q79 property: SimHash is token-order and tf-weighting invariant") {
    // SimHash fingerprints depend on the token MULTISET, not order — a
    // reordered doc must land at hamming 0 even though md5(text) differs
    // (exact dedup q60 would NOT pair these). Doc 2 shares no tokens.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q79prop_").toString
    Seq(
      (0L, "alpha beta beta gamma delta", "en", "s0"),
      (1L, "delta beta gamma alpha beta", "en", "s1"),
      (2L, "omega psi chi phi rho tau sigma", "en", "s2"))
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q79(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.contains((0L, 1L, 0)))
    assert(TextOps.q60(spark, dir).collect().length === 3) // q60 sees 3 distinct texts
  }

  test("q81 n-gram Jaccard: identical shingle sets pair at 1.0, near-dup below 0.6 excluded") {
    val rows = TextOps.q81(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.contains((0L, 1L, 1.0)))
    // docs 0 & 2 share 2 of 4 distinct shingles ⇒ jac 0.5 < 0.6 ⇒ absent
    assert(!rows.exists { case (d1, d2, _) => (d1, d2) == (0L, 2L) })
  }

  test("q80 embedding near-dup: only the v0/v1 pair clears the threshold") {
    val rows = VectorOps.q80(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((0L, 1L, 0.9939))) // 0.9/sqrt(0.82) rounded 4dp
  }

  test("minhashLshPairs large-vocab path: array-intersect verify, no popcount aliasing") {
    // 71 distinct tokens forces the >64-vocab dispatch (the 64-bit-mask
    // verify would alias tokens past 64). Exact dups always collide in
    // every band; all emitted pairs must clear the exact 0.8 threshold.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_").toString
    val base = (0 until 10).map(i => s"t$i").mkString(" ")
    val filler = (0 until 60).map(i => s"w$i").mkString(" ")
    Seq((0L, base), (1L, base), (2L, base + " u0"), (3L, filler))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.api.GraftOps
      .minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.contains((0L, 1L, 1.0))) // identical docs: identical signatures
    assert(rows.forall { case (d1, d2, jac) => d1 < d2 && jac >= 0.8 })
    // doc2 is a true near-dup of 0 and 1 (jaccard 10/11 ≈ 0.909)
    assert(rows.exists { case (d1, d2, _) => (d1, d2) == (0L, 2L) })
  }

  test("simhash property: long documents don't overflow the per-bit counters") {
    // One doc repeats a single token 40001 times (past the 32767 limit of a
    // 16-bit lane), the other has that token once: identical token SETS ⇒
    // identical tf-weighted fingerprints ⇒ a pair at hamming 0. A 16-bit
    // lane wraps 2·40001 to 14466 < 40001 and flips bits silently.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shlong_").toString
    val long = Seq.fill(40001)("aardvark").mkString(" ")
    Seq((0L, long), (1L, "aardvark"), (2L, "omega psi chi phi rho"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.q79(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq === Seq((0L, 1L, 0)))
  }

  test("hashSplit: a null key fails loudly instead of skewing a split") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("a"), Some("b"), None).toDF("k")
    val ex = intercept[Exception] {
      graft.api.GraftOps.hashSplit(df, "k").collect()
    }
    assert(ex.getMessage.contains("hashSplit: null split key") ||
      Option(ex.getCause).exists(_.getMessage.contains("hashSplit: null split key")))
  }

  test("minhashLshPairs with explicit smallVocab is lazy: zero jobs at construction") {
    // materialize the fixture + parquet schema read BEFORE counting jobs —
    // only the operator's own construction must be job-free
    val docs = Tables.documents(spark, fx)
    docs.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.api.GraftOps.minhashLshPairs(
        docs, "doc_id", "text", smallVocab = Some(true))
      df.queryExecution.optimizedPlan // force analysis + optimization
      Thread.sleep(300) // let any (unexpected) job-start events drain
      assert(jobs.get() === 0,
        "operator construction must not run Spark jobs when the dispatch is asserted")
      // and it still computes the right answer when executed
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.contains((0L, 1L)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q61 with explicit smallVocab/smallCorpus is lazy: zero jobs at construction") {
    // pre-read the tokenized frame — the parquet schema job belongs to the
    // source read, not to the operator whose laziness is under test
    val dt = graft.engine.TextOps.docToks(spark, fx)
    dt.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.engine.TextOps.q61Pairs(spark, dt,
        smallVocab = Some(true), smallCorpus = Some(true))
      df.queryExecution.optimizedPlan // force analysis + optimization
      Thread.sleep(300) // let any (unexpected) job-start events drain
      assert(jobs.get() === 0,
        "q61 construction must not run Spark jobs when the dispatch is asserted")
      // asserted dispatch computes the same pairs as the probed dispatch
      val asserted = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val probed = graft.engine.TextOps.q61(spark, fx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(asserted === probed)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dedupApply: best-by-score keeps argmax, no-score keeps min id, singletons pass") {
    val s = spark
    import s.implicits._
    // clusters: {1,2,3} labeled 1, {7,8} labeled 7; 5 is a singleton
    val df = Seq((1L, 10.0), (2L, 30.0), (3L, 20.0), (5L, 1.0), (7L, 4.0), (8L, 4.0))
      .toDF("id", "score")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("node", "label")
    val best = graft.api.GraftOps.dedupApply(df, "id", comp, Some("score"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // id 2 wins cluster 1 on score; tie in cluster 7 goes to smaller id 7
    assert(best === Set((2L, 1L, 3L), (5L, 5L, 1L), (7L, 7L, 2L)))
    val minId = graft.api.GraftOps.dedupApply(df, "id", comp, None)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(minId === Set((1L, 1L), (5L, 5L), (7L, 7L)))
  }

  test("jaccardPairs completeness: pairs NOT sharing their min shingle are still found") {
    // Construct shingle sets with Jaccard 2/3 whose MIN digests differ —
    // a single-min winnowing bucket join would miss the pair.
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Seq("bb", "cc", "dd", "ee")), // min = bb
      (1L, Seq("aa", "cc", "dd", "ee")), // min = aa ≠ bb; J = 3/5
      (2L, Seq("zz", "yy", "xx", "ww"))).toDF("id", "toks")
    val pairs = graft.api.GraftOps.jaccardPairs(df, "id", "toks", 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((0L, 1L, 0.6)))
  }

  test("jaccardPairs normalizes out-of-contract input: duplicate and " +
    "unsorted elements give the same answer as the clean set") {
    // The documented precondition is "array of distinct tokens", but the
    // internal sort_array(array_distinct(...)) normalization must make a
    // sloppy caller's duplicates harmless (not a data-dependent
    // strictness throw from the merge kernel, and not a dup-inflated sz
    // skewing jac).
    val s = spark
    import s.implicits._
    val clean = Seq(
      (0L, Seq("bb", "cc", "dd", "ee")),
      (1L, Seq("aa", "cc", "dd", "ee"))).toDF("id", "toks")
    val sloppy = Seq(
      (0L, Seq("ee", "bb", "cc", "bb", "dd")), // dup + unsorted
      (1L, Seq("cc", "aa", "cc", "ee", "dd", "cc"))).toDF("id", "toks")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.api.GraftOps.jaccardPairs(df, "id", "toks", 60)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(run(sloppy) === run(clean))
    assert(run(clean) === Seq((0L, 1L, 0.6)))
  }

  test("q82 split: total, deterministic, and append-stable") {
    val rows = TextOps.q82(spark, fx).collect()
    assert(rows.map(_.getLong(2)).sum === 4) // every doc lands in exactly one split
    val again = TextOps.q82(spark, fx).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // hash-mod assignment depends only on doc_id, never on row order/count
    val bucket = (id: Long) => {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      Integer.parseInt(hex, 16) % 100
    }
    assert(Seq(0L, 1L, 2L, 3L).map(bucket).forall(b => b >= 0 && b < 100))
  }

  test("quantizeEmbeddings: codes bounded, axis vectors exact, distortion tiny") {
    graft.GraftExtensions.register(spark)
    val q = graft.api.GraftOps.quantizeEmbeddings(
      Tables.embeddings(spark, fx), "vec_id", "embedding").collect()
    q.foreach { r =>
      assert(r.getSeq[Int](2).forall(c => c >= -127 && c <= 127))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 0.01)
    }
    // vec 0 = (1, 0, 0): scale 1/127, codes (127, 0, 0), zero distortion
    val v0 = q.find(_.getLong(0) == 0L).get
    assert(v0.getSeq[Int](2) === Seq(127, 0, 0))
    assert(v0.getDouble(3) === 0.0)
  }

  test("q87 persisted IVF: partition-pruned search equals the in-memory ivfTopK") {
    graft.GraftExtensions.register(spark)
    val mem = graft.api.GraftOps.ivfTopK(Tables.embeddings(spark, fx),
        "vec_id", "embedding", queryPred = col("vec_id") < 100, k = 5,
        nLists = 16, nProbe = 4, lloydIters = 3) // q87's exact parameters
      .collect().map(_.toString).toSeq
    val q87 = VectorOps.q87(spark, fx)
    assert(q87.collect().map(_.toString).toSeq === mem)
    // the corpus scan must carry the static probed-lists partition filter
    // (rendered as IN for few lists, INSET past the conversion threshold)
    val plan = q87.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      "expected a bucket partition filter on the index corpus scan")
  }

  test("q95 rerank: full-coverage shortlist reproduces ivfTopK exactly; " +
    "reranked cosines are always exact") {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, fx)
    // the fixture corpus is tiny, so rerankFactor=200 covers every probed
    // candidate: int8 coarse ordering cannot drop anything and the rerank
    // output must EQUAL the full-precision ivfTopK
    val reranked = graft.api.GraftOps.ivfTopKReranked(emb, "vec_id",
        "embedding", queryPred = col("vec_id") < 100, k = 5, nLists = 4,
        nProbe = 2, lloydIters = 3, rerankFactor = 200)
      .collect().map(_.toString).toSeq
    val plain = graft.api.GraftOps.ivfTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < 100, k = 5, nLists = 4, nProbe = 2,
        lloydIters = 3)
      .collect().map(_.toString).toSeq
    assert(reranked === plain)
    // at a tight factor the emitted cosines are still exact for whatever
    // pairs survive (rerank re-scores on full precision; only shortlist
    // MEMBERSHIP is approximate) — compare against the all-pairs exact set
    val exactAll = graft.api.GraftOps.cosineTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < 100, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    graft.api.GraftOps.ivfTopKReranked(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < 100, k = 1, nLists = 4, nProbe = 4,
        lloydIters = 3, rerankFactor = 1)
      .collect().foreach { r =>
        assert(exactAll.contains((r.getLong(0), r.getLong(2), r.getDouble(3))),
          "reranked pair must carry the exact cosine for that pair")
      }
  }

  test("recallTarget dial: nProbeFor reads the committed RECALL.md curve, " +
    "is monotone, and target 1.0 reproduces exact search end-to-end") {
    import graft.api.GraftOps.nProbeFor
    // lookups at the measured layout (nLists = 16)
    assert(nProbeFor(0.30, 16) === 1)
    assert(nProbeFor(0.40, 16) === 2)
    assert(nProbeFor(0.60, 16) === 4)
    assert(nProbeFor(0.80, 16) === 8)
    assert(nProbeFor(0.90, 16) === 12)
    assert(nProbeFor(0.95, 16) === 16)
    assert(nProbeFor(1.0, 16) === 16)
    // between measured points it rounds UP (never hands back less recall)
    assert(nProbeFor(0.65, 16) === 8)
    // generalizes by probe fraction to other list counts; clamps to range
    assert(nProbeFor(0.80, 4) === 2)
    assert(nProbeFor(0.30, 4) === 1)
    assert(nProbeFor(1.0, 3) === 3)
    // monotone in target
    val targets = Seq(0.05, 0.3, 0.45, 0.65, 0.85, 0.92, 1.0)
    val picks = targets.map(nProbeFor(_, 16))
    assert(picks === picks.sorted)
    intercept[IllegalArgumentException](nProbeFor(0.0, 16))
    intercept[IllegalArgumentException](nProbeFor(1.2, 16))
    // end-to-end: recallTarget = 1.0 probes every list ⇒ IVF ≡ brute force
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, fx)
    val ivf = graft.api.GraftOps.ivfTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < 2, k = 2, nLists = 4, lloydIters = 1,
        recallTarget = Some(1.0))
      .collect().map(_.toString).toSeq
    val exact = graft.api.GraftOps.cosineTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < 2, k = 2)
      .collect().map(_.toString).toSeq
    assert(ivf === exact)
  }

  test("kmeanspar seeding: deterministic across runs, valid buckets, and " +
    "the true nearest neighbor still surfaces") {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, fx)
    def run() = graft.api.GraftOps.ivfTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < 100, k = 2, nLists = 2, nProbe = 2,
        lloydIters = 2, seeding = "kmeanspar")
      .collect().map(_.toString).toSeq
    val a = run()
    assert(a === run(), "hash-threshold k-means|| must be reproducible")
    // nProbe = nLists probes everything: the exact top-2 must match the
    // brute-force baseline regardless of how the seeds landed
    val exact = graft.api.GraftOps.cosineTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < 100, k = 2)
      .collect().map(_.toString).toSeq
    assert(a === exact)
  }

  test("q97 repetition stats: fixture docs exact, repetitive doc flagged") {
    // fixture docs are all-distinct-word: dup fractions 0, top ratio 1/wc
    val rows = TextOps.q97(spark, fx).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getAs[Int]("wc") === 5)
    assert(rows(0L).getAs[Double]("dup_word_frac") === 0.0)
    assert(rows(0L).getAs[Double]("top_word_ratio") === 0.2)
    assert(rows(0L).getAs[Double]("dup_bigram_frac") === 0.0)
    assert(rows(0L).getAs[Int]("keep") === 0) // 0.2 > 0.12 top-ratio bound
    // hand-checked repetitive doc through the API directly
    val s = spark
    import s.implicits._
    val spam = Seq((1L, "spam spam spam ham")).toDF("id", "txt")
    val m = graft.api.TextAnalysis.repetitionStats(spam, "id", "txt").collect()(0)
    assert(m.getAs[Int]("wc") === 4)
    assert(m.getAs[Double]("dup_word_frac") === 0.5)   // 4 tokens, 2 distinct
    assert(m.getAs[Double]("top_word_ratio") === 0.75) // spam ×3
    assert(m.getAs[Double]("dup_bigram_frac") === 1.0 / 3) // spam-spam ×2 of 3
    assert(m.getAs[Int]("keep") === 0)
    // single-word doc: the bigram guard path, no sequence(0,-1) blowup
    val one = Seq((1L, "word")).toDF("id", "txt")
    val o = graft.api.TextAnalysis.repetitionStats(one, "id", "txt").collect()(0)
    assert(o.getAs[Double]("dup_bigram_frac") === 0.0)
    assert(o.getAs[Double]("top_word_ratio") === 1.0)
  }

  test("q98 boilerplate: shared 3-grams across docs, short doc zeroes") {
    // d0/d1 exact dups ⇒ all 3 shingles shared; d2 shares 2 of 3; d3's
    // only shingle is unique
    val rows = TextOps.q98(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq(
      (0L, 3L, 3L, 1.0), (1L, 3L, 3L, 1.0),
      (2L, 3L, 2L, 2.0 / 3), (3L, 1L, 0L, 0.0)))
    // sub-n-gram doc emits (0, 0, 0.0), not a dropped row
    val s = spark
    import s.implicits._
    val tiny = Seq((7L, "just two")).toDF("id", "txt")
    val t = graft.api.TextAnalysis.boilerplateNgrams(tiny, "id", "txt").collect()(0)
    assert((t.getLong(1), t.getLong(2), t.getDouble(3)) === ((0L, 0L, 0.0)))
  }

  test("q99 decontamination: train shingle overlap against the test split") {
    val s = spark
    import s.implicits._
    // explicit train/test frames: d0 shares 2 of its 3 shingles with test
    val train = Seq((0L, "alpha beta gamma delta epsilon"),
      (3L, "omega psi chi")).toDF("doc_id", "text")
    val test = Seq((2L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val rep = graft.api.TextAnalysis.contaminationReport(
      train, test, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep(0L).getAs[Long]("hits") === 2L)
    assert(rep(0L).getAs[Double]("contam_frac") === 2.0 / 3)
    assert(rep(0L).getAs[Int]("contaminated") === 1)
    assert(rep(3L).getAs[Long]("hits") === 0L)
    assert(rep(3L).getAs[Int]("contaminated") === 0)
    // registry binding runs end-to-end on the fixture (split may leave the
    // train side tiny — the report must still emit one row per train doc)
    val bound = TextOps.q99(spark, fx).collect()
    assert(bound.forall(r => r.getAs[Long]("hits") <= r.getAs[Long]("n_shingles")))
  }

  test("q105 column profiler: nulls, distincts, and min/max in one pass; " +
    "approx mode keeps the schema") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(1L), "a"), (Some(1L), "b"), (None, "b"), (Some(3L), "c"))
      .toDF("k", "v")
    val p = graft.api.GraftOps.profileColumns(df, Seq("k", "v")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("k").getAs[Long]("n_rows") === 4L)
    assert(p("k").getAs[Long]("n_nulls") === 1L)
    assert(p("k").getAs[Long]("n_distinct") === 2L) // distinct ignores null
    assert(p("k").getAs[String]("min_value") === "1")
    assert(p("k").getAs[String]("max_value") === "3")
    assert(p("v").getAs[Long]("n_nulls") === 0L)
    assert(p("v").getAs[Long]("n_distinct") === 3L)
    assert(p("v").getAs[String]("max_value") === "c")
    // approx mode: same shape, HLL counts exact at this cardinality
    val a = graft.api.GraftOps.profileColumns(df, Seq("k", "v"),
      approxDistinct = true).collect().map(r => r.getString(0) -> r).toMap
    assert(a("k").getAs[Long]("n_distinct") === 2L)
    assert(a("v").getAs[Long]("n_distinct") === 3L)
  }

  test("q105 approxDistinct knob: HLL distincts stay within ±2% of exact " +
    "at a cardinality where HLL actually estimates") {
    // q21's treatment for the 100 TB knob: 20k rows / 10k distinct keys /
    // 100 distinct categories — large enough that approx_count_distinct
    // genuinely approximates instead of counting
    val s = spark
    import s.implicits._
    val df = (0 until 20000)
      .map(i => (i % 10000, s"cat_${i % 100}")).toDF("k", "v")
    val exact = graft.api.GraftOps.profileColumns(df, Seq("k", "v"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    assert(exact("k") === 10000L && exact("v") === 100L)
    val approx = graft.api.GraftOps.profileColumns(df, Seq("k", "v"),
      approxDistinct = true)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    Seq("k", "v").foreach { c =>
      val rel = math.abs(approx(c) - exact(c)).toDouble / exact(c)
      assert(rel <= 0.02,
        s"approx n_distinct($c)=${approx(c)} vs exact ${exact(c)}: " +
          f"rel err $rel%.4f > 2%%")
    }
    // the other profile fields are UNTOUCHED by the knob
    val e2 = graft.api.GraftOps.profileColumns(df, Seq("k", "v"))
      .drop("n_distinct").collect().map(_.toString).sorted.toSeq
    val a2 = graft.api.GraftOps.profileColumns(df, Seq("k", "v"),
      approxDistinct = true)
      .drop("n_distinct").collect().map(_.toString).sorted.toSeq
    assert(e2 === a2)
  }

  test("q106 capPerGroup: best-n per group with deterministic ties; " +
    "small groups pass through whole") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", 1L, 10), ("a", 2L, 30), ("a", 3L, 30), ("a", 4L, 20),
      ("b", 5L, 5)).toDF("g", "id", "score")
    val out = graft.api.GraftOps.capPerGroup(df, "g", "score", "id", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    // group a: score 30 tie -> smaller id 2 ranks 1, id 3 ranks 2; group b whole
    assert(out === Set(("a", 2L, 1), ("a", 3L, 2), ("b", 5L, 1)))
  }

  test("q107 budgetByTokens: greedy fill stops at the budget; an " +
    "over-budget single row is dropped") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // stratum x, quality order by score desc: id1(600) id2(300) id3(200)
      ("x", 1L, 9, 600L), ("x", 2L, 8, 300L), ("x", 3L, 7, 200L),
      // stratum y: single row larger than the whole budget
      ("y", 4L, 9, 5000L)).toDF("st", "id", "score", "tk")
    val out = graft.api.GraftOps.budgetByTokens(df, "st", "score", "tk",
        "id", 1000L)
      .collect().map(r => (r.getLong(1), r.getLong(4))).toMap
    // x: 600, then 900; id3 would reach 1100 > 1000 -> dropped; y: dropped
    assert(out === Map(1L -> 600L, 2L -> 900L))
  }

  test("q108 piiScrub: emails, phones, and IPs redact and count; clean " +
    "text is untouched") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "mail a.b+c@x-y.org or no-reply@sub.example.com now"),
      (1L, "call +4915112345678 from 192.168.0.1 or 10.0.0.255"),
      (2L, "nothing sensitive here 1234567 999.999.999.999")).toDF("id", "txt")
    val out = graft.api.TextAnalysis.piiScrub(df, "id", "txt").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out(0L) === (("mail <EMAIL> or <EMAIL> now", 2, 0, 0)))
    assert(out(1L) === (("call <PHONE> from <IP> or <IP>", 0, 1, 2)))
    // bare digits are not a phone (no +); 999.x is not a valid IPv4 octet
    assert(out(2L) === (("nothing sensitive here 1234567 999.999.999.999", 0, 0, 0)))
  }

  test("q109 vocabOov: frequency vocab with alphabetic tie at the cut; " +
    "occurrence-weighted OOV fraction") {
    val s = spark
    import s.implicits._
    // counts: w:3 z:3 a:2 b:2 -> vocab(3) = {w, z, a}: w beats z
    // alphabetically on the 3-3 tie (both fit), a beats b on the 2-2 tie
    // at the cut (only a fits)
    val df = Seq(
      (0L, "w w a"),
      (1L, "w a b"),
      (2L, "b z z z")).toDF("id", "txt")
    val out = graft.api.TextAnalysis.vocabOov(df, "id", "txt", 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) === ((3L, 0L, 0.0)))
    assert(out(1L) === ((3L, 1L, 1.0 / 3))) // b is OOV
    assert(out(2L) === ((4L, 1L, 0.25))) // b OOV, z in vocab
  }

  test("q110 segmentDedup: segments in >= minDocs docs vanish everywhere, " +
    "order is preserved, an all-common doc empties rather than drops") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "HEADER\nunique zero\nFOOTER"),
      (1L, "HEADER\nonly one\nFOOTER"),
      (2L, "HEADER\nFOOTER"),
      (3L, "totally original\nHEADER")).toDF("id", "txt")
    // HEADER in 4 docs, FOOTER in 3 -> both removed at minDocs = 3
    val out = graft.api.GraftOps.segmentDedup(df, "id", "txt",
        sep = "\n", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(0L) === (("unique zero", 3, 2)))
    assert(out(1L) === (("only one", 3, 2)))
    assert(out(2L) === (("", 2, 2)))
    assert(out(3L) === (("totally original", 2, 1)))
    // fraction threshold resolves against the corpus size (4 docs here:
    // 0.9 -> ceil(3.6) = 4 -> only HEADER is common enough)
    val frac = graft.api.GraftOps.segmentDedup(df, "id", "txt",
        sep = "\n", minDocFrac = Some(0.9))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(frac(2L) === "FOOTER")
    assert(frac(0L) === "unique zero\nFOOTER")
  }

  test("q111 temperatureResample: alpha=1 keeps all, the smallest stratum " +
    "is always whole, survivors grow monotonically with alpha") {
    val s = spark
    import s.implicits._
    val df = ((1L to 40L).map(k => (k, "big")) ++
      (101L to 105L).map(k => (k, "tiny"))).toDF("id", "st")
    def kept(alpha: Double) = graft.api.GraftOps
      .temperatureResample(df, "id", "st", alpha)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept(1.0) === df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    val quarter = kept(0.25)
    val half = kept(0.5)
    // the smallest stratum keeps rate 1.0 at every alpha
    assert((101L to 105L).forall(k => quarter.contains((k, "tiny"))))
    // key-pure bucket + monotone rates => kept sets nest as alpha grows
    assert(quarter.subsetOf(half) && half.subsetOf(kept(1.0)))
    // alpha=0 equalizes: the big stratum shrinks toward the tiny one
    val eq = kept(0.0)
    val bigEq = eq.count(_._2 == "big")
    assert(bigEq < 40 && eq.count(_._2 == "tiny") === 5)
    // null stratum fails loudly
    intercept[Exception] {
      graft.api.GraftOps.temperatureResample(
        Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("id", "st"),
        "id", "st", 0.5).collect()
    }
    // out-of-range per-row rates fail loudly too (the raw sampler guard)
    intercept[Exception] {
      graft.api.GraftOps.hashSampleByRateCol(
        Seq((1L, 1.5)).toDF("id", "r"), "id",
        org.apache.spark.sql.functions.col("r")).collect()
    }
  }

  test("temperatureResample anchor=max: the largest stratum stays whole, " +
    "small strata up-sample ∝ n^α within integral granularity, copies " +
    "are monotone in alpha, alpha=1 is the identity") {
    val s = spark
    import s.implicits._
    val df = ((1L to 64L).map(k => (k, "big")) ++
      (101L to 104L).map(k => (k, "tiny"))).toDF("id", "st")
    def out(alpha: Double) = graft.api.GraftOps
      .temperatureResample(df, "id", "st", alpha, anchor = "max")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // alpha=1: every rate is 1 — exactly one copy (rep 0) of every row
    assert(out(1.0).map(t => (t._1, t._2)).toSet ===
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(out(1.0).forall(_._3 === 0L))
    // the largest stratum anchors at rate 1 for every alpha
    for (a <- Seq(0.0, 0.5)) {
      val big = out(a).filter(_._2 == "big")
      assert(big.length === 64 && big.forall(_._3 === 0L),
        s"anchor stratum must stay whole at alpha=$a")
    }
    // alpha=0 equalizes: tiny (n=4) up-samples at rate 16 exactly —
    // 16 copies per row, rep indices 0..15, total 64
    val eq = out(0.0).filter(_._2 == "tiny")
    assert(eq.length === 64)
    assert(eq.groupBy(_._1).forall(_._2.map(_._3).sorted.toSeq === (0L to 15L)))
    // alpha=0.5: rate = 16^0.5 = 4 exactly — expected 4·4 = 16 copies
    assert(out(0.5).count(_._2 == "tiny") === 16)
    // per-key copy counts are monotone: fewer copies as alpha grows
    val byKey0 = out(0.0).groupBy(_._1).view.mapValues(_.length).toMap
    val byKey5 = out(0.5).groupBy(_._1).view.mapValues(_.length).toMap
    assert(byKey5.forall { case (k, n) => n <= byKey0.getOrElse(k, 0) })
    // fractional rates honor the integral threshold: rate 16^(1-0.9)=
    // ~1.32 ⇒ each key gets 1 or 2 copies, never 0 or 3
    val frac = out(0.9).filter(_._2 == "tiny").groupBy(_._1)
      .view.mapValues(_.length).toMap
    assert(frac.size === 4 && frac.values.forall(n => n == 1 || n == 2))
  }

  test("q112 dedupAgainstCorpus: history content drops, batch-internal " +
    "dups keep best, novel rows pass") {
    val s = spark
    import s.implicits._
    val corpus = Seq((100L, "already seen text", 17)).toDF("id", "txt", "score")
    val fresh = Seq(
      (1L, "already seen text", 99), // in history -> dropped (any score)
      (2L, "new duplicated text", 5),
      (3L, "new duplicated text", 9), // batch dup -> best score survives
      (4L, "completely novel", 1)).toDF("id", "txt", "score")
    val out = graft.api.GraftOps.dedupAgainstCorpus(fresh, corpus,
        "id", "txt", "score")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(out === Set((3L, 9), (4L, 1)))
  }

  test("q116 family: dedupExactAgainstCorpus ≡ dedupAgainstCorpus; the " +
    "composite appends only novel digests and mechanizes replay; compact " +
    "folds raw re-appends; probes prune to the batch's touched buckets") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val corpus = Seq((100L, "already seen text", 17))
      .toDF("id", "txt", "score")
    val fresh = Seq(
      (1L, "already seen text", 99), // in history -> dropped (any score)
      (2L, "new duplicated text", 5),
      (3L, "new duplicated text", 9), // batch dup -> best score survives
      (4L, "completely novel", 1)).toDF("id", "txt", "score")
    val dir = java.nio.file.Files.createTempDirectory("graft_dig_").toString
    GraftOps.digestIndexBuild(corpus, "txt", dir, nBuckets = 16)
    // equivalence with the raw-scan operator, row for row (exact dedup
    // has no recall trade — the digest either exists or it does not)
    val viaIndex = GraftOps.dedupExactAgainstCorpus(fresh, "id", "txt",
      "score", dir)
    val viaScan = GraftOps.dedupAgainstCorpus(fresh, corpus, "id", "txt",
      "score")
    assert(viaIndex.collect().map(r => (r.getLong(0), r.getInt(2))).toSet ===
      viaScan.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
    // the history read carries the touched-bucket partition filter
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      "expected a bucket partition filter on the digest scan")
    // composite: survivors pinned, survivor digests appended -> the next
    // batch drops against them
    val v0 = IndexStore.resolve(s, dir).get.version
    val sv1 = GraftOps.dedupExactAndAppend(fresh, "id", "txt", "score", dir,
      batchId = Some(1L))
    assert(sv1.collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    val v1 = IndexStore.resolve(s, dir).get.version
    assert(v1 === v0 + 1, "one append commit for the survivor digests")
    val b2 = Seq((5L, "new duplicated text", 50), (6L, "completely novel", 2))
      .toDF("id", "txt", "score")
    assert(GraftOps.dedupExactAndAppend(b2, "id", "txt", "score", dir,
        batchId = Some(2L)).collect().isEmpty,
      "batch 2 drops against batch 1's appended digests")
    assert(IndexStore.resolve(s, dir).get.version === v1,
      "an all-drop batch publishes nothing (no version churn)")
    // replay of batch 1 (sink crashed after its append committed):
    // time-travel to the pre-append snapshot reproduces the survivors
    // exactly, and no second append commits
    val replay = GraftOps.dedupExactAndAppend(fresh, "id", "txt", "score",
      dir, batchId = Some(1L))
    assert(replay.collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    assert(IndexStore.resolve(s, dir).get.version === v1,
      "a replayed batch never appends twice")
    // a raw append may re-add digests history already holds; reads are
    // set-semantics, and compact folds back to the distinct set
    GraftOps.digestIndexAppend(fresh, "txt", dir)
    val distinctBefore = IndexStore.readTable(s, dir,
        IndexStore.resolve(s, dir).get, "digests")
      .select("digest").distinct().count()
    GraftOps.digestIndexCompact(s, dir)
    val d = GraftOps.describeIndex(s, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(d.keySet === Set("digests"))
    assert(d("digests").getInt(1) === 1, "compact folds to one segment")
    assert(d("digests").getLong(2) === distinctBefore,
      "compact deduplicates to the distinct digest set")
    assert(GraftOps.dedupExactAgainstCorpus(
        Seq((7L, "completely novel", 3)).toDF("id", "txt", "score"),
        "id", "txt", "score", dir).collect().isEmpty,
      "post-compact probes still see every digest")
    // empty appends are a no-op, and null text neither stores a digest
    // nor probes a bucket (it can never match — the raw op's convention)
    val vc = IndexStore.resolve(s, dir).get.version
    GraftOps.digestIndexAppend(
      Seq.empty[(Long, String)].toDF("id", "txt"), "txt", dir)
    assert(IndexStore.resolve(s, dir).get.version === vc,
      "an empty digest append publishes nothing")
    val nulls = Seq((8L, null.asInstanceOf[String], 1),
      (9L, "completely novel", 5)).toDF("id", "txt", "score")
    assert(GraftOps.dedupExactAgainstCorpus(nulls, "id", "txt", "score", dir)
      .collect().map(_.getLong(0)).toSet === Set(8L),
      "null text survives (matches nothing); seen text still drops")
  }

  test("q116 binding: the digest-index probe equals q112's raw-scan " +
    "answer on the fixture") {
    assert(TextOps.q116(spark, fx).collect().map(_.toString).toSeq ===
      TextOps.q112(spark, fx).collect().map(_.toString).toSeq)
  }

  test("q125 binding: the post-retraction probe equals an independently " +
    "computed digest-level set-subtraction reference, and every " +
    "re-submitted taken-down doc survives") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, fx)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val removed = corpus.filter(col("doc_id") % 3 === 0)
    val eff = corpus.select(md5(col("text")).as("h")).distinct()
      .except(removed.select(md5(col("text")).as("h")).distinct())
    val fresh = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text", "lang", "n_chars")
      .unionByName(removed.select("doc_id", "text", "lang", "n_chars")
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val novel = fresh.join(eff, md5(fresh("text")) === eff("h"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val expect = novel.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    val got = TextOps.q125(spark, fx).collect()
    assert(got.map(_.toString).toSeq ===
      expect.collect().map(_.toString).toSeq)
    // the retract is load-bearing: the re-submitted content survives
    // (it would drop wholesale if the tombstones were silently inert)
    val resubmitted = removed.select("doc_id").collect()
      .map(_.getLong(0) + 1000000L).toSet
    assert(resubmitted.nonEmpty &&
      resubmitted.subsetOf(got.map(_.getLong(0)).toSet))
  }

  test("index retraction (digest): retract makes the index forget — " +
    "probes accept retracted content, sequenced tombstones let re-ingests " +
    "index again, replay and vacuum converge, compact folds the " +
    "tombstones away") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val corpus = Seq((100L, "taken down text", 1), (101L, "kept text", 1))
      .toDF("id", "txt", "score")
    val dir = java.nio.file.Files.createTempDirectory("graft_digr_").toString
    GraftOps.digestIndexBuild(corpus, "txt", dir, nBuckets = 16)
    val probe = Seq((1L, "taken down text", 9), (2L, "kept text", 9))
      .toDF("id", "txt", "score")
    def survivors() = GraftOps.dedupExactAgainstCorpus(probe, "id", "txt",
      "score", dir).collect().map(_.getLong(0)).toSet
    assert(survivors() === Set.empty[Long], "both contents start indexed")
    // the takedown: retract the removed doc's digest (corpusDiff's
    // `removed` work-list shape)
    GraftOps.digestIndexRetract(corpus.filter(col("id") === 100L), "txt",
      dir, batchId = Some(1L))
    assert(survivors() === Set(1L),
      "retracted content is accepted again; untouched content still drops")
    // the tombstone-aware probe keeps the touched-bucket partition
    // pruning on BOTH sides of the subtraction (digests scan and
    // tombstones scan each carry the bucket filter)
    val tombPlan = GraftOps.dedupExactAgainstCorpus(probe, "id", "txt",
      "score", dir).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[bucket".r
      .findAllMatchIn(tombPlan).size >= 2,
      "expected bucket partition filters on the digest AND tombstone scans")
    // empty and null-only retract batches publish nothing
    val v1 = IndexStore.resolve(s, dir).get.version
    GraftOps.digestIndexRetract(Seq.empty[(Long, String)].toDF("id", "txt"),
      "txt", dir)
    GraftOps.digestIndexRetract(
      Seq((6L, null.asInstanceOf[String])).toDF("id", "txt"), "txt", dir)
    assert(IndexStore.resolve(s, dir).get.version === v1,
      "empty / null-only retracts are no-ops (no version churn)")
    // a REPLAYED retract (batch id at the watermark) is a committed no-op
    GraftOps.digestIndexRetract(corpus.filter(col("id") === 100L), "txt",
      dir, batchId = Some(1L))
    assert(IndexStore.resolve(s, dir).get.version === v1,
      "a replayed retract commits nothing")
    // below the watermark fails loudly (two retract writers)
    val e = intercept[IllegalArgumentException] {
      GraftOps.digestIndexRetract(corpus, "txt", dir, batchId = Some(0L))
    }
    assert(e.getMessage.contains("watermark"))
    // the re-ingest: the content is novel again; the composite appends
    // its digest AFTER the tombstone, so it gates future probes again
    // (sequenced tombstones — Iceberg's equality-delete rule)
    val back = GraftOps.dedupExactAndAppend(
      Seq((7L, "taken down text", 3)).toDF("id", "txt", "score"),
      "id", "txt", "score", dir, batchId = Some(2L))
    assert(back.collect().map(_.getLong(0)).toSet === Set(7L),
      "the re-ingest is accepted")
    assert(survivors() === Set.empty[Long],
      "a digest re-appended AFTER its retraction is live again")
    // vacuum during the tombstone window: probes keep working (tombstone
    // segments are referenced by the retained manifest by construction)
    GraftOps.indexVacuum(s, dir)
    assert(survivors() === Set.empty[Long])
    // a retract with NO re-ingest, then compact: the fold drops the
    // digest row AND the tombstones table; probe answers are unchanged
    GraftOps.digestIndexRetract(corpus.filter(col("id") === 101L), "txt",
      dir)
    assert(survivors() === Set(2L))
    GraftOps.digestIndexCompact(s, dir)
    val d = GraftOps.describeIndex(s, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(d.keySet === Set("digests"),
      "compact drops the tombstones table from the manifest")
    assert(d("digests") === 1L,
      "only the re-ingested digest survives the fold")
    assert(survivors() === Set(2L),
      "probe answers are unchanged by the fold")
  }

  test("digest retention horizon: compact(retainFromVersion) forgets " +
    "content not re-seen since the horizon, re-appended content stays " +
    "alive, and an impossible horizon fails loudly") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl_").toString
    GraftOps.digestIndexBuild(
      Seq((1L, "stale never reseen"), (2L, "evergreen content"))
        .toDF("id", "txt"), "txt", dir, nBuckets = 8) // v1
    GraftOps.digestIndexAppend(
      Seq((3L, "evergreen content"), (4L, "fresh arrival"))
        .toDF("id", "txt"), "txt", dir) // v2: re-append keeps 'evergreen' alive
    val horizon = IndexStore.resolve(s, dir).get.version
    GraftOps.digestIndexCompact(s, dir, retainFromVersion = Some(horizon))
    val probe = Seq((10L, "stale never reseen", 1),
      (11L, "evergreen content", 1), (12L, "fresh arrival", 1))
      .toDF("id", "txt", "score")
    assert(GraftOps.dedupExactAgainstCorpus(probe, "id", "txt", "score", dir)
      .collect().map(_.getLong(0)).toSet === Set(10L),
      "only the un-refreshed digest ages out; re-appended and fresh gate on")
    val e = intercept[IllegalArgumentException] {
      GraftOps.digestIndexCompact(s, dir, retainFromVersion = Some(999))
    }
    assert(e.getMessage.contains("retainFromVersion"))
    // the horizon compares against the newest DIGEST-WRITING commit:
    // a retract advances the version chain without writing digests, so
    // a horizon read off the latest version would otherwise silently
    // age out EVERYTHING — loud instead
    GraftOps.digestIndexRetract(
      Seq((9L, "fresh arrival")).toDF("id", "txt"), "txt", dir)
    val hAfterRetract = IndexStore.resolve(s, dir).get.version
    val e2 = intercept[IllegalArgumentException] {
      GraftOps.digestIndexCompact(s, dir,
        retainFromVersion = Some(hAfterRetract))
    }
    assert(e2.getMessage.contains("digest-writing"))
  }

  test("digest ages survive a hygiene compact: retainFromVersion after " +
    "a plain compact still drops content whose last TRUE write predates " +
    "the horizon") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl2_").toString
    GraftOps.digestIndexBuild(
      Seq((1L, "stale never reseen")).toDF("id", "txt"), "txt", dir,
      nBuckets = 8) // v1
    GraftOps.digestIndexAppend(
      Seq((2L, "fresh arrival")).toDF("id", "txt"), "txt", dir) // v2
    GraftOps.digestIndexCompact(s, dir) // v3: plain hygiene compact
    // horizon = v2: under the segment-tag fold the compact would have
    // reset BOTH ages to v3 and nothing would drop; the persisted
    // last_write column keeps the stale doc's age at v1
    GraftOps.digestIndexCompact(s, dir, retainFromVersion = Some(2))
    val probe = Seq((10L, "stale never reseen", 1),
      (11L, "fresh arrival", 1)).toDF("id", "txt", "score")
    assert(GraftOps.dedupExactAgainstCorpus(probe, "id", "txt", "score", dir)
      .collect().map(_.getLong(0)).toSet === Set(10L),
      "the hygiene compact must not refresh the stale digest's age")
  }

  test("compacting a FULLY-forgotten index publishes a readable empty " +
    "fold, never a fileless segment — digest, fingerprint, and IVF " +
    "alike; appends then restart the index") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    // digest: build one doc, retract it, compact to empty
    val dd = java.nio.file.Files.createTempDirectory("graft_de_").toString
    GraftOps.digestIndexBuild(Seq((1L, "only text")).toDF("id", "txt"),
      "txt", dd, nBuckets = 4)
    GraftOps.digestIndexRetract(Seq((1L, "only text")).toDF("id", "txt"),
      "txt", dd)
    GraftOps.digestIndexCompact(s, dd)
    val probe = Seq((5L, "only text", 1)).toDF("id", "txt", "score")
    assert(GraftOps.describeIndex(s, dd).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
      .get("digests").contains(0L), "empty fold is readable")
    assert(GraftOps.dedupExactAgainstCorpus(probe, "id", "txt", "score", dd)
      .collect().map(_.getLong(0)).toSet === Set(5L))
    GraftOps.digestIndexAppend(probe, "txt", dd)
    assert(GraftOps.dedupExactAgainstCorpus(probe, "id", "txt", "score", dd)
      .collect().isEmpty, "the restarted index gates again")
    // fingerprint: same cycle through the band compact
    val fd = java.nio.file.Files.createTempDirectory("graft_fe_").toString
    GraftOps.fingerprintBuild(Seq((1L, "alpha beta gamma delta"))
      .toDF("id", "txt"), "id", "txt", fd)
    GraftOps.fingerprintRetract(Seq(1L).toDF("id"), "id", fd)
    GraftOps.fingerprintCompact(s, fd)
    val fprobe = Seq((5L, "alpha beta gamma delta")).toDF("id", "txt")
    assert(GraftOps.dedupNearAgainstCorpus(fprobe, "id", "txt", fd)
      .collect().map(_.getLong(0)).toSet === Set(5L))
    GraftOps.fingerprintAppend(fprobe, "id", "txt", fd)
    assert(GraftOps.dedupNearAgainstCorpus(fprobe, "id", "txt", fd)
      .collect().isEmpty)
    // IVF: retract every vector, compact, search empty, append revives
    val vd = java.nio.file.Files.createTempDirectory("graft_ve_").toString
    GraftOps.ivfBuild(Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", vd,
      nLists = 2, lloydIters = 2)
    GraftOps.ivfRetract(Seq(0L, 1L).toDF("id"), "id", vd)
    GraftOps.ivfCompact(s, vd)
    val q = Seq(9L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    assert(GraftOps.ivfSearch(q, "vec_id", "embedding", vd, k = 2,
      nProbe = 2).collect().isEmpty, "fully-forgotten index searches empty")
    GraftOps.ivfAppend(Seq(7L -> Array(1f, 0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", vd)
    assert(GraftOps.ivfSearch(q, "vec_id", "embedding", vd, k = 2,
        nProbe = 2).collect().map(_.getLong(2)).toSet === Set(7L),
      "appends restart the folded-to-empty index")
  }

  test("index retraction (fingerprint): a retracted doc stops gating " +
    "near-dup probes; a changed doc re-ingested under the SAME id is " +
    "judged by its refreshed content only; compact folds; null retract " +
    "ids fail loudly") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val corpus = Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six")).toDF("id", "txt")
    val dir = java.nio.file.Files.createTempDirectory("graft_fpr_").toString
    GraftOps.fingerprintBuild(corpus, "id", "txt", dir)
    val probe = Seq((20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "one two three four five six"),
      (22L, "totally different words here now")).toDF("id", "txt")
    def survivors() = GraftOps.dedupNearAgainstCorpus(probe, "id", "txt",
      dir, minPct = 80).collect().map(_.getLong(0)).toSet
    // identical strings sketch identically — these drops are guaranteed,
    // no LSH-recall caveat in this pin
    assert(survivors() === Set(22L))
    GraftOps.fingerprintRetract(Seq(10L).toDF("id"), "id", dir)
    assert(survivors() === Set(20L, 22L),
      "the retracted doc no longer gates; the other still does")
    // the `changed` cycle: doc 11's content is refreshed — retract the
    // old entry, append the new one under the SAME id
    GraftOps.fingerprintRetract(Seq(11L).toDF("id"), "id", dir)
    GraftOps.fingerprintAppend(
      Seq((11L, "completely refreshed content words")).toDF("id", "txt"),
      "id", "txt", dir)
    val probe2 = Seq((30L, "one two three four five six"),
      (31L, "completely refreshed content words")).toDF("id", "txt")
    def sv2() = GraftOps.dedupNearAgainstCorpus(probe2, "id", "txt", dir,
      minPct = 80).collect().map(_.getLong(0)).toSet
    assert(sv2() === Set(30L),
      "the old content is forgotten; the refreshed content gates")
    // compact folds: tombstones table dropped, docs reduced to the live
    // set, probe answers unchanged
    GraftOps.fingerprintCompact(s, dir)
    val d = GraftOps.describeIndex(s, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(d.keySet === Set("docs", "bands"))
    assert(d("docs") === 1L, "one live doc after the add/remove cycle")
    assert(sv2() === Set(30L))
    // null ids in a retract batch fail loudly (corpusDiff's stance)
    val e = intercept[Exception] {
      GraftOps.fingerprintRetract(
        Seq[Option[Long]](None).toDF("id"), "id", dir)
    }
    assert(e.getMessage.contains("fingerprintRetract") ||
      Option(e.getCause).exists(_.getMessage.contains("fingerprintRetract")))
  }

  test("index retraction (IVF): a retracted vector disappears from " +
    "search; re-appending the id revives it; compact folds the " +
    "tombstones away") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val corpus: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f), 1L -> Array(0.9f, 0.1f),
      2L -> Array(0f, 1f), 3L -> Array(0.1f, 0.9f))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfr_").toString
    GraftOps.ivfBuild(corpus.toDF("vec_id", "embedding"), "vec_id",
      "embedding", dir, nLists = 2, lloydIters = 2)
    val q = Seq(10L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    def hits() = GraftOps.ivfSearch(q, "vec_id", "embedding", dir, k = 4,
      nProbe = 2).collect().map(_.getLong(2)).toSet
    assert(hits() === Set(0L, 1L, 2L, 3L))
    // the takedown: vector 0 must stop being queryable
    GraftOps.ivfRetract(Seq(0L).toDF("id"), "id", dir)
    assert(hits() === Set(1L, 2L, 3L),
      "a retracted vector is no longer searchable")
    // re-appending the id (refreshed content) revives it — sequenced
    // tombstones, the band twins' rule
    GraftOps.ivfAppend(Seq(0L -> Array(0.95f, 0.05f))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", dir)
    assert(hits() === Set(0L, 1L, 2L, 3L))
    GraftOps.ivfCompact(s, dir)
    assert(GraftOps.describeIndex(s, dir).collect()
      .map(_.getString(0)).toSet === Set("centroids", "corpus"),
      "compact drops the tombstones table")
    assert(hits() === Set(0L, 1L, 2L, 3L))
  }

  test("index retraction (SRP): a retracted vector stops gating embedding " +
    "probes; compact folds the tombstones away") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val corpus: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f), 1L -> Array(0f, 1f, 0f))
    val dir = java.nio.file.Files.createTempDirectory("graft_srpr_").toString
    GraftOps.srpIndexBuild(corpus.toDF("vec_id", "embedding"), "vec_id",
      "embedding", dir, dim = 3)
    val probe: Seq[(Long, Array[Float])] = Seq(
      10L -> Array(1f, 0f, 0f), 11L -> Array(0f, 1f, 0f))
    def survivors() = GraftOps.dedupEmbAgainstCorpus(
        probe.toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
        minCosine = 0.98)
      .collect().map(_.getLong(0)).toSet
    // identical vectors sketch identically — guaranteed drops
    assert(survivors() === Set.empty[Long])
    GraftOps.srpIndexRetract(Seq(0L).toDF("vid"), "vid", dir)
    assert(survivors() === Set(10L),
      "the retracted vector no longer gates; the other still does")
    GraftOps.srpIndexCompact(s, dir)
    assert(GraftOps.describeIndex(s, dir).collect()
      .map(_.getString(0)).toSet === Set("docs", "bands"))
    assert(survivors() === Set(10L))
  }

  test("q117 packSequences: per-shard streams are contiguous, cut geometry " +
    "is exact, the layout is partition-invariant, zero-token docs fail " +
    "loudly") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val seqLen = 50L
    // token counts 1..90, so some docs straddle a 50-token cut
    val docs = (0L until 300L).map(i => (i, 1L + i * 37 % 90)).toDF("id", "nt")
    val out = GraftOps.packSequences(docs, "id", "nt", seqLen, nShards = 4)
      .select("id", "nt", "shard", "pack_off", "seq_first", "seq_off",
        "seq_spans")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.length === 300)
    assert(out.map(_._3).distinct.sorted === Seq(0, 1, 2, 3))
    // contiguity: within a shard, sorted by offset, each doc starts
    // exactly where the previous ended — the concatenated stream drops
    // and double-counts nothing
    out.groupBy(_._3).foreach { case (_, rows) =>
      rows.sortBy(_._4).foldLeft(0L) { case (expected, r) =>
        assert(r._4 === expected, s"gap or overlap at doc ${r._1}")
        expected + r._2
      }: Unit
    }
    // cut geometry: seq columns agree with integer arithmetic on
    // (pack_off, n_tokens) — Spark's DIV/pmod match JVM longs
    out.foreach { r =>
      assert(r._5 === r._4 / seqLen && r._6 === r._4 % seqLen)
      assert(r._7 === (r._4 + r._2 - 1) / seqLen - r._4 / seqLen + 1)
    }
    assert(out.exists(_._7 > 1), "long docs straddle a cut")
    assert(out.exists(r => r._7 === 1L && r._6 > 0L),
      "short docs pack into an already-started sequence")
    // the layout derives from ids alone: input partitioning is invisible
    val re = GraftOps.packSequences(docs.repartition(13), "id", "nt",
        seqLen, nShards = 4)
      .select("id", "pack_off").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(re === out.map(r => (r._1, r._4)).toSet)
    // a 0-token doc would silently skew the stream — loud instead
    val e = intercept[Exception] {
      GraftOps.packSequences(Seq((1L, 0L)).toDF("id", "nt"), "id", "nt",
        seqLen, 4).collect()
    }
    assert(e.getMessage.contains("packSequences"))
  }

  test("packSequences / packSequenceRows: an input column colliding with " +
    "an emitted or temp name fails loudly instead of being overwritten " +
    "or dropped") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    for (bad <- Seq("shard", "pack_off", "seq_spans", "__h", "__t")) {
      val df = Seq((1L, 5L, "x")).toDF("id", "nt", bad)
      val e = intercept[IllegalArgumentException] {
        GraftOps.packSequences(df, "id", "nt", 50L, 4)
      }
      assert(e.getMessage.contains(bad))
    }
    for (bad <- Seq("seq_id", "doc_from", "doc_to", "seq_from", "__k")) {
      val df = Seq((1L, 5L, "x")).toDF("id", "nt", bad)
      val e = intercept[IllegalArgumentException] {
        GraftOps.packSequenceRows(df, "id", "nt", 50L, 4)
      }
      assert(e.getMessage.contains(bad))
    }
  }

  test("q118 packSequenceRows: one row per spanned sequence with exact " +
    "slice bounds, derived from q117's geometry on the fixture") {
    val s = spark
    val rows = TextOps.q118(s, fx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val geom = TextOps.q117(s, fx).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.map(_._1).distinct.length === geom.size)
    assert(rows.length.toLong === geom.values.map(_._6).sum,
      "one manifest row per (doc, spanned sequence)")
    rows.groupBy(_._1).foreach { case (id, slices) =>
      val (nt, shard, packOff, seqFirst, seqOff, spans) = geom(id)
      val sorted = slices.sortBy(_._3)
      assert(sorted.forall(_._2 === shard))
      assert(sorted.head._3 === seqFirst && sorted.head._6 === seqOff)
      assert(sorted.length.toLong === spans)
      // slice bounds are the sequence/doc interval intersections
      sorted.foreach { case (_, _, seqId, from, to, sFrom) =>
        assert(from === math.max(0L, seqId * 512 - packOff))
        assert(to === math.min(nt, (seqId + 1) * 512 - packOff))
        assert(sFrom === math.max(0L, packOff - seqId * 512))
        assert(to > from, "every manifest row carries >= 1 token")
      }
      assert(sorted.head._4 === 0L && sorted.last._5 === nt,
        "the doc's slices cover [0, n_tokens)")
    }
  }

  test("q119 chunking: fixture docs fit one chunk; inline doc gets exact " +
    "stride/overlap geometry; null text and bad params fail loudly") {
    val s = spark
    import s.implicits._
    // every fixture doc is <= 64 tokens → exactly one chunk: its own text
    val rows = TextOps.q119(s, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val docs = Tables.documents(s, fx).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.length === docs.size)
    rows.foreach { case (id, cid, from, to, txt) =>
      assert(cid === 0L && from === 0L)
      assert(txt === docs(id))
      assert(to === docs(id).split(" ").length.toLong)
    }
    // 10 tokens, chunkSize 4, overlap 1 (stride 3): [0,4) [3,7) [6,10)
    val d = Seq((0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("id", "text")
    val got = graft.api.TextAnalysis.chunkByTokens(d, "text", 4, 1)
      .select("chunk_id", "tok_from", "tok_to", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 3L, 7L, "t3 t4 t5 t6"),
      (2L, 6L, 10L, "t6 t7 t8 t9")))
    val nulls = Seq((0L, null.asInstanceOf[String])).toDF("id", "text")
    intercept[Exception] {
      graft.api.TextAnalysis.chunkByTokens(nulls, "text", 4, 1).collect()
    }
    intercept[IllegalArgumentException](
      graft.api.TextAnalysis.chunkByTokens(d, "text", 4, 4))
    intercept[IllegalArgumentException](
      graft.api.TextAnalysis.chunkByTokens(
        d.withColumnRenamed("id", "chunk_id"), "text", 4, 1))
  }

  test("q120 corpus diff: fixture hits all three statuses; NULL payload " +
    "is distinct from empty; duplicate and null ids fail loudly") {
    val s = spark
    import s.implicits._
    // fixture ids 0..3: old = %4!=3 → {0,1,2}; new = %4!=1 → {0,2,3};
    // ' v2' appended for even ids → 0,2 changed; 1 removed; 3 added
    val got = TextOps.q120(s, fx).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((0L, "changed"), (1L, "removed"), (2L, "changed"),
      (3L, "added")))
    val o = Seq((1L, Some("a")), (2L, None), (3L, Some(""))).toDF("id", "t")
    val n = Seq((1L, Some("a")), (2L, Some("")), (4L, Some("x"))).toDF("id", "t")
    val d1 = graft.api.GraftOps.corpusDiff(o, n, "id", Seq("t")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(d1 === Seq((2L, "changed"), (3L, "removed"), (4L, "added")),
      "NULL payload must diff against '' — a concat digest would conflate them")
    val d2 = graft.api.GraftOps
      .corpusDiff(o, n, "id", Seq("t"), includeUnchanged = true).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(d2 === Seq((1L, "unchanged"), (2L, "changed"), (3L, "removed"),
      (4L, "added")))
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "t")
    intercept[Exception](
      graft.api.GraftOps.corpusDiff(dup, n, "id", Seq("t")).collect())
    val nid = Seq((Some(1L), "a"), (None, "b")).toDF("id", "t")
    intercept[Exception](
      graft.api.GraftOps.corpusDiff(nid, n, "id", Seq("t")).collect())
  }

  test("q121 epoch shuffle: per-shard positions are a permutation that a " +
    "JVM-side md5 model reproduces; seeds are stable and independent") {
    val s = spark
    import s.implicits._
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = TextOps.q121(s, fx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (0L until rs.length).toSeq)
    }
    // cross-engine determinism: the ordering key is md5("seed:shard:seq")
    val want = rows.map { case (sh, sq, _) => (sh, sq) }.groupBy(_._1)
      .flatMap { case (sh, ks) =>
        ks.toSeq.sortBy { case (_, sq) => (md5hex(s"7:$sh:$sq"), sq) }
          .zipWithIndex.map { case ((_, sq), i) => (sh, sq, i.toLong) }
      }.toSet
    assert(rows.toSet === want)
    // one 20-row shard: same seed reproduces, different seed permutes anew
    val seqs = (0L until 20L).map(i => (0, i)).toDF("shard", "k")
    def order(seed: Long): Seq[Long] =
      graft.api.GraftOps.epochShuffle(seqs, "shard", Seq("k"), seed)
        .orderBy("epoch_pos").collect().map(_.getLong(1)).toSeq
    val o1 = order(11L)
    assert(o1 === order(11L), "same seed must reproduce the epoch exactly")
    assert(o1 !== order(12L), "a new seed must re-permute")
    assert(o1 !== (0L until 20L).toSeq, "the shuffle actually shuffles")
    val nk = Seq((Some(0), Some(1L)), (Some(0), None)).toDF("shard", "k")
    intercept[Exception](
      graft.api.GraftOps.epochShuffle(nk, "shard", Seq("k"), 1L).collect())
    intercept[IllegalArgumentException](graft.api.GraftOps.epochShuffle(
      seqs.withColumnRenamed("k", "epoch_pos"), "shard", Seq("epoch_pos"), 1L))
  }

  test("q122 pack index: the appended batch is the batch's one-shot " +
    "layout rebased by history's recorded stream lengths; replay with " +
    "the same batchId re-derives it without a second append") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, fx).withColumn("n_tokens",
      size(split(col("text"), " ")).cast("long"))
    val got = TextOps.q122(s, fx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val base = graft.api.GraftOps.packSequences(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "n_tokens", 512, 8)
      .groupBy("shard").agg(sum("n_tokens").as("t")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val want = graft.api.GraftOps.packSequences(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "n_tokens", 512, 8)
      .select("doc_id", "n_tokens", "shard", "pack_off").collect()
      .map { r =>
        val (id, nt, sh) = (r.getLong(0), r.getLong(1), r.getInt(2))
        val o = r.getLong(3) + base.getOrElse(sh, 0L)
        (id, nt, sh, o, o / 512, o % 512, (o + nt - 1) / 512 - o / 512 + 1)
      }.sortBy(_._1).toSeq
    assert(got === want)
    // replay mechanics on an explicit dir
    val dir = Tables.scratchDir("graft_q122_replay_")
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    graft.api.GraftOps.packIndexBuild(hist, "doc_id", "n_tokens", dir,
      seqLen = 512, nShards = 8)
    def appendOnce(): Set[(Long, Long)] =
      graft.api.GraftOps.packIndexAppend(batch, "doc_id", "n_tokens", dir,
          batchId = Some(0L))
        .select("doc_id", "pack_off").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = appendOnce()
    assert(first === appendOnce(),
      "a replayed batch re-derives its first attempt's layout exactly")
    // a cron'd vacuum inside the crash-replay window cannot strand the
    // replay: the pre-append offsets manifest is retained by construction
    graft.api.GraftOps.indexVacuum(s, dir)
    assert(first === appendOnce(),
      "replay still re-derives after a vacuum (base manifest retained)")
    // no second append happened: a FRESH batch lands exactly after
    // hist ∪ batch (offsets advanced once, not twice)
    val fresh = batch.withColumn("doc_id", col("doc_id") + 1000L)
    val freshGot = graft.api.GraftOps.packIndexAppend(fresh, "doc_id",
        "n_tokens", dir, batchId = Some(1L))
      .select("doc_id", "shard", "pack_off").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val base2 = graft.api.GraftOps.packSequences(docs, "doc_id",
        "n_tokens", 512, 8)
      .groupBy("shard").agg(sum("n_tokens").as("t")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val freshWant = graft.api.GraftOps.packSequences(fresh, "doc_id",
        "n_tokens", 512, 8)
      .select("doc_id", "shard", "pack_off").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2) + base2.getOrElse(r.getInt(1), 0L))).toSet
    assert(freshGot === freshWant,
      "offsets advanced once, not twice — the replay appended nothing")
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.packIndexAppend(batch, "doc_id", "n_tokens", dir,
        batchId = Some(0L))
    }
    // the watermark guard outranks the emptiness shortcut: a second
    // writer's below-watermark EMPTY trigger must fail loudly too, not
    // appear to succeed until its first non-empty batch
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.packIndexAppend(batch.limit(0), "doc_id",
        "n_tokens", dir, batchId = Some(0L))
    }
  }

  test("q123 length batches: per-shard batches are contiguous runs of " +
    "the length-desc order; null tokens and reserved columns fail loudly") {
    val s = spark
    import s.implicits._
    // one shard, 7 rows, batchSize 3: lengths 9 9 8 | 7 5 5 | 2
    val rows = Seq((0L, 9L), (1L, 9L), (2L, 8L), (3L, 7L), (4L, 5L),
      (5L, 5L), (6L, 2L)).toDF("id", "nt")
    val got = graft.api.GraftOps.lengthBucketBatches(
        rows, "id", "nt", batchSize = 3, nShards = 1)
      .select("id", "batch_id", "batch_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((0L, 0L, 0L), (1L, 0L, 1L), (2L, 0L, 2L),
      (3L, 1L, 0L), (4L, 1L, 1L), (5L, 1L, 2L), (6L, 2L, 0L)))
    // the binding's per-batch audit over the fixture: every batch is
    // full except each shard's last, and max >= avg within each batch
    val audit = TextOps.q123(s, fx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    audit.groupBy(_._1).foreach { case (_, bs) =>
      val sorted = bs.sortBy(_._2)
      assert(sorted.init.forall(_._3 == 32L) || sorted.length == 1)
      sorted.foreach { case (_, _, n, mx, sm) => assert(mx * n >= sm) }
    }
    val nulls = Seq((0L, Some(3L)), (1L, None)).toDF("id", "nt")
    intercept[Exception](graft.api.GraftOps.lengthBucketBatches(
      nulls, "id", "nt", 2, 1).collect())
    intercept[IllegalArgumentException](graft.api.GraftOps
      .lengthBucketBatches(rows.withColumnRenamed("nt", "batch_id"),
        "id", "batch_id", 2, 1))
  }

  test("q124 assemble docs: (order, part)-deterministic join regardless " +
    "of input order; ties break on the part; nulls fail loudly") {
    val s = spark
    import s.implicits._
    def mkts(x: String) = java.sql.Timestamp.valueOf(x)
    val parts = Seq(
      (1L, mkts("2001-01-01 10:00:00"), "open"),
      (1L, mkts("2001-01-01 09:00:00"), "login"),
      (1L, mkts("2001-01-01 10:00:00"), "click"), // ts tie → part order
      (2L, mkts("2001-01-01 12:00:00"), "solo"))
    val got = graft.api.GraftOps.assembleDocs(
        parts.reverse.toDF("uid", "o", "p"), Seq("uid"), "o", "p")
      .orderBy("uid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, "login click open", 3L), (2L, "solo", 1L)))
    intercept[Exception](graft.api.GraftOps.assembleDocs(
      Seq((1L, Some(mkts("2001-01-01 09:00:00")), None: Option[String]))
        .toDF("uid", "o", "p"), Seq("uid"), "o", "p").collect())
    intercept[Exception](graft.api.GraftOps.assembleDocs(
      Seq((1L, None: Option[java.sql.Timestamp], Some("x")))
        .toDF("uid", "o", "p"), Seq("uid"), "o", "p").collect())
    // family-standard reserved-column guard: a group column named like
    // an emitted column fails loudly (batch and streaming twins both)
    for (bad <- Seq("text", "n_parts")) {
      val e = intercept[IllegalArgumentException](graft.api.GraftOps
        .assembleDocs(parts.toDF(bad, "o", "p"), Seq(bad), "o", "p"))
      assert(e.getMessage.contains(bad))
      val e2 = intercept[IllegalArgumentException](
        graft.streaming.StreamOps.assembleSessions(
          Seq((1L, mkts("2001-01-01 09:00:00"), "x", "y"))
            .toDF("user_id", "ts", "event_type", bad)))
      assert(e2.getMessage.contains(bad))
    }
    // the binding equals an in-memory model of the fixture's events
    val ev = Tables.events(s, fx).select("user_id", "ts2", "event_type")
      .collect().map(r => (r.get(0).toString, r.getTimestamp(1),
        r.getString(2)))
    val want = ev.groupBy(e => (e._1, e._2.toLocalDateTime.toLocalDate))
      .map { case ((uid, day), es) =>
        (uid, day.toString,
          es.sortBy(e => (e._2.getTime, e._3)).map(_._3).mkString(" "),
          es.length.toLong)
      }.toSet
    val bound = TextOps.q124(s, fx).collect()
      .map(r => (r.get(0).toString, r.getDate(1).toString, r.getString(2),
        r.getLong(3))).toSet
    assert(bound === want)
  }

  test("q113 winnowing: k+w-1 shared run guarantees a shared fingerprint; " +
    "degenerate short docs fall back to the global minimum") {
    val s = spark
    import s.implicits._
    // d0/d1 share exactly a 6-token run (k+w-1 = 6 at k=3, w=4) in
    // otherwise disjoint text; d2 is disjoint from both
    val run = "s1 s2 s3 s4 s5 s6"
    val a = Seq((0L, s"a1 a2 a3 $run a4 a5")).toDF("id", "txt")
    val b = Seq(
      (1L, s"b1 b2 $run b3"),
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("id", "txt")
    val pairs = graft.api.TextAnalysis.winnowedOverlapPairs(a, b, "id", "txt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)),
      "the winnowing guarantee: a k+w-1 run cannot be missed; disjoint docs don't pair")
    // md5 mode selects the same PAIRS (values differ, selection logic is
    // the same lexicographic-minimum idea on a different digest)
    val pairsMd5 = graft.api.TextAnalysis.winnowedOverlapPairs(a, b, "id",
        "txt", hash = "md5")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsMd5 === Set((0L, 1L)))
    // degenerate: below k tokens -> no fingerprints; k..k+w-2 tokens ->
    // exactly one (the global min), so two identical short docs pair
    val short = Seq((10L, "x y"), (11L, "p q r s"), (12L, "p q r s"))
      .toDF("id", "txt")
    val fp = graft.api.TextAnalysis.winnowFingerprints(short, "id", "txt")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).size).toMap
    assert(fp === Map(10L -> 0, 11L -> 1, 12L -> 1))
    val shortPairs = graft.api.TextAnalysis.winnowedOverlapPairs(
        short.filter($"id" =!= 12L), short.filter($"id" === 12L), "id", "txt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shortPairs === Set((11L, 12L)))
  }

  test("q113 winnowing maxDocFreq: boilerplate-only pairs drop, genuine " +
    "overlaps survive, and a loose bound is identical to None") {
    val s = spark
    import s.implicits._
    // Every doc opens with the same boilerplate run; only d0/d10 also
    // share a genuine 6-token run. Without the drop, boilerplate pairs
    // EVERY (a, b) combination; its fingerprints land in all 6 docs.
    val boiler = "this corpus is licensed under the sample terms v1"
    val run = "g1 g2 g3 g4 g5 g6"
    val a = Seq(
      (0L, s"$boiler $run a1 a2"),
      (1L, s"$boiler a3 a4 a5 a6 a7"),
      (2L, s"$boiler a8 a9 aa ab ac")).toDF("id", "txt")
    val b = Seq(
      (10L, s"$boiler $run b1 b2"),
      (11L, s"$boiler b3 b4 b5 b6 b7"),
      (12L, s"$boiler b8 b9 ba bb bc")).toDF("id", "txt")
    def pairsAt(mdf: Option[Int]) =
      graft.api.TextAnalysis.winnowedOverlapPairs(a, b, "id", "txt",
          maxDocFreq = mdf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsAt(None) === (for (x <- 0L to 2L; y <- 10L to 12L)
      yield (x, y)).toSet,
      "shared boilerplate pairs everything when nothing is dropped")
    // df(boilerplate fingerprints) = 6 > 2; the genuine run's
    // fingerprints appear only in d0/d10 (df = 2) and survive
    assert(pairsAt(Some(2)) === Set((0L, 10L)),
      "dropping over-common fingerprints keeps only the genuine overlap")
    assert(pairsAt(Some(1000)) === pairsAt(None),
      "a bound above every doc-frequency is the identity")
  }

  test("q102 kNN join: disjoint frames rank by cosine, excludeSelf drops " +
    "the identity match") {
    graft.GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, fx)
    // queries {0,1} vs corpus {2,3}: v0=(1,0,0) ties 0.0 to both → vid asc;
    // v1=(0.9,0.1,0) has cos > 0 only with v2=(0,1,0)
    val nn = graft.api.GraftOps.cosineTopKJoin(
      e.filter(col("vec_id") < 2), e.filter(col("vec_id") >= 2),
      "vec_id", "embedding", k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(nn.toSeq === Seq((0L, 2L, 0.0), (1L, 2L, nn(1)._3)))
    assert(nn(1)._3 > 0.0)
    // same frame on both sides without excludeSelf: top-1 is the identity
    val self = graft.api.GraftOps.cosineTopKJoin(e, e, "vec_id", "embedding",
      k = 1).collect()
    assert(self.forall(r => r.getLong(0) === r.getLong(2) &&
      r.getDouble(3) === 1.0))
  }

  test("q101 curation pipeline: quality gate, exact dedup, and split compose") {
    // defaults (0.6/0.2/0.4): d3 ("omega psi chi") fails top-word 1/3 > 0.2;
    // d0/d1 are byte-identical (n_chars tie → min id 0 survives); d0 vs d2
    // share 2 of 4 3-gram shingles (0.5 < 0.6) → both stay as singletons
    val out = graft.api.CurationPipeline.curate(
      Tables.documents(spark, fx), "doc_id", "text", scoreCol = "n_chars")
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(0L, 2L))
    assert(out.forall(_.getAs[Long]("cluster_size") === 1L))
    assert(out.forall(r => Seq("train", "val", "test")
      .contains(r.getAs[String]("split"))))
    // tighten the near-dup threshold and the 0/2 pair collapses too
    val collapsed = graft.api.CurationPipeline.curate(
      Tables.documents(spark, fx), "doc_id", "text", scoreCol = "n_chars",
      minPct = 50)
      .collect()
    assert(collapsed.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(0L))
    assert(collapsed.head.getAs[Long]("cluster_size") === 2L)
    // lifecycle: curate leaves NO pinned cache entries behind — its
    // fan-out point is an eager localCheckpoint (GC-released), not a
    // persist() that escapes into the returned frame and leaks per call
    assert(spark.sharedState.cacheManager.isEmpty,
      "curate must not leave cached plans behind")
  }

  test("q100 SRP-LSH: exact verify in-join ⇒ output equals the exact " +
    "baseline on the fixture (near-identical pair sketches identically)") {
    graft.GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, fx)
    val srp = graft.api.GraftOps.srpNearDupPairs(emb, "vec_id", "embedding",
      minCosine = 0.35, dim = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = graft.api.GraftOps.embeddingNearDupPairs(emb, "vec_id",
      "embedding", minCosine = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // v0=(1,0,0) vs v1=(0.9,0.1,0): |0.9·h₀| > |0.1·h₁| for every ±1
    // hyperplane, so their sign bits agree on ALL planes — every band
    // collides, the pair cannot be missed; precision is 1.0 by in-join
    // exact verification, so the two sides are EQUAL here
    assert(srp.toSeq === exact.toSeq)
    assert(srp.nonEmpty && srp.head === ((0L, 1L, srp.head._3)))
  }

  test("q76 IVF top-k: probed buckets still find the true nearest neighbor") {
    val ivf = VectorOps.q76(spark, fx).collect()
    val v0 = ivf.filter(_.getLong(0) == 0L)
    assert(v0.head.getLong(2) === 1L) // same as exact q66
    // with 4 singleton buckets and nprobe=2, each query sees ≤1 candidate —
    // assert structure + that the probed candidate is exact-verified
    val exact = VectorOps.q66(spark, fx).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    ivf.foreach { r =>
      assert(exact.contains((r.getLong(0), r.getLong(2), r.getDouble(3))),
        "IVF pair must carry the exact cosine for that pair")
    }
    assert(ivf.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(1)).min == 1))
  }

  test("q114 family: dedupNearAgainstCorpus composes — batch∘append ≡ " +
    "one-shot for any monotone split, first-seen-wins out of order, " +
    "precision 1.0 vs the exact predicate, identical docs always drop") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // groups: {0,1,3} identical, {2,8} identical, 4 is J=5/6 of 0,
    // {5,6} identical, 7 is J=3/4 of 5, 9 unique
    val all = Seq(
      0L -> "alpha beta gamma delta epsilon",
      1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta zeta",
      3L -> "alpha beta gamma delta epsilon",
      4L -> "alpha beta gamma delta epsilon eta",
      5L -> "omega psi chi",
      6L -> "omega psi chi",
      7L -> "omega psi chi phi",
      8L -> "alpha beta gamma delta zeta",
      9L -> "lorem ipsum dolor sit")
    val df = all.toDF("doc_id", "text")
    val corpus = df.filter(col("doc_id") <= 2)
    val batch = df.filter(col("doc_id") > 2)
    def freshIndex(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_fpi_").toString
      GraftOps.fingerprintBuild(corpus, "doc_id", "text", dir)
      dir
    }
    def survivors(dir: String, b: org.apache.spark.sql.DataFrame) =
      GraftOps.dedupNearAgainstCorpus(b, "doc_id", "text", dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val oneShot = survivors(freshIndex(), batch)
    // identical docs collide in EVERY band (equal sketches) — 3 (dup of
    // 0/1), 6 (dup of 5), 8 (dup of 2) are guaranteed drops; 5/7/9 have
    // no smaller J≥0.8 partner at all — guaranteed survivors
    assert(Set(5L, 7L, 9L).subsetOf(oneShot))
    assert((oneShot & Set(3L, 6L, 8L)) === Set.empty[Long])
    // precision 1.0: every dropped doc has a REAL smaller-id J≥0.8
    // partner (the exact predicate via the complete-recall jaccardPairs)
    val exactDropped = GraftOps.jaccardPairs(
        df.select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("tk")),
        "doc_id", "tk", minPct = 80)
      .select("d2").collect().map(_.getLong(0)).toSet
    val dropped =
      batch.select("doc_id").collect().map(_.getLong(0)).toSet -- oneShot
    assert(dropped.subsetOf(exactDropped),
      "every LSH drop must be a true near-dup (precision 1.0)")
    // ANY monotone (append-ordered) split of the batch composes to the
    // one-shot survivors — including singleton-at-a-time arrival
    for (split <- Seq(
        Seq(Seq(3L, 4L, 5L), Seq(6L, 7L, 8L, 9L)),
        Seq(Seq(3L), Seq(4L, 5L), Seq(6L, 7L, 8L, 9L)),
        (3L to 9L).map(Seq(_)))) {
      val dir = freshIndex()
      val got = split.map { ids =>
        val b = df.filter(col("doc_id").isin(ids: _*))
        val sv = survivors(dir, b)
        GraftOps.fingerprintAppend(b, "doc_id", "text", dir)
        sv
      }.reduce(_ ++ _)
      assert(got === oneShot, s"split $split must equal the one-shot result")
    }
    // OUT-OF-ORDER arrival is first-seen-wins: 6 arrives before its
    // smaller-id dup 5 → 6 survives (nothing seen matches it), and 5 is
    // then dropped against history — exactly one of the pair is kept
    val dir = freshIndex()
    val sv1 = survivors(dir, df.filter(col("doc_id").isin(4L, 6L, 8L)))
    GraftOps.fingerprintAppend(
      df.filter(col("doc_id").isin(4L, 6L, 8L)), "doc_id", "text", dir)
    val sv2 = survivors(dir, df.filter(col("doc_id").isin(3L, 5L, 7L, 9L)))
    assert(sv1.contains(6L) && !sv2.contains(5L),
      "first-seen-wins under out-of-order arrival")
    assert(((sv1 ++ sv2) & Set(5L, 6L)) === Set(6L))
  }

  test("q114 binding: history wins — the fixture batch doc 0 drops against " +
    "its exact dup already in the corpus, schema intact") {
    val out = TextOps.q114(spark, fx)
    // fixture: batch = doc_id%5==0 = {0}; doc 1 (corpus) is an exact dup
    // of 0 — history outranks the batch regardless of id, so 0 drops
    assert(out.collect().isEmpty)
    assert(out.schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"))
  }

  test("ivfAppend: search over build(A)∘append(B) ≡ search over a rebuild " +
    "of A∪B at the same frozen centroids, row for row") {
    val s = spark
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, fx)
    val a = emb.filter(col("vec_id") <= 1)
    val b = emb.filter(col("vec_id") >= 2)
    val idx1 = java.nio.file.Files.createTempDirectory("graft_ivfa_").toString
    val idx2 = java.nio.file.Files.createTempDirectory("graft_ivfb_").toString
    GraftOps.ivfBuild(a, "vec_id", "embedding", idx1, nLists = 2, lloydIters = 2)
    GraftOps.ivfAppend(b, "vec_id", "embedding", idx1)
    // rebuild on the union under the SAME (frozen) quantizer
    GraftOps.ivfBuild(emb, "vec_id", "embedding", idx2,
      centroidsFrom = Some(idx1))
    def res(dir: String) =
      GraftOps.ivfSearch(emb, "vec_id", "embedding", dir, k = 2, nProbe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val appended = res(idx1)
    assert(appended === res(idx2),
      "append must be indistinguishable from rebuild at fixed centroids")
    assert(appended.nonEmpty)
    // appended vectors are genuinely searchable (B ids appear as hits)
    assert(appended.exists { case (_, _, vid, _) => vid >= 2L })
  }

  test("q115 family: dedupEmbAgainstCorpus — monotone batch∘append ≡ " +
    "one-shot, precision 1.0 vs exact cosine pairs, identical vectors " +
    "always drop") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    // 0/1 identical; 2 near 0 (cos ~0.995); 3 orthogonal; 4 dup of 3;
    // 5 near 3; 6 isolated direction
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f), 1L -> Array(1f, 0f, 0f),
      2L -> Array(0.99f, 0.1f, 0f), 3L -> Array(0f, 1f, 0f),
      4L -> Array(0f, 1f, 0f), 5L -> Array(0f, 0.99f, 0.1f),
      6L -> Array(0f, 0f, 1f))
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.filter(col("vec_id") <= 1)
    val batch = df.filter(col("vec_id") > 1)
    def freshIndex(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_srpx_").toString
      GraftOps.srpIndexBuild(corpus, "vec_id", "embedding", dir, dim = 3)
      dir
    }
    def survivors(dir: String, b: org.apache.spark.sql.DataFrame) =
      GraftOps.dedupEmbAgainstCorpus(b, "vec_id", "embedding", dir,
        minCosine = 0.98).select("vec_id").collect().map(_.getLong(0)).toSet
    val oneShot = survivors(freshIndex(), batch)
    // guaranteed: 4 dups 3 (identical sketches) → dropped; 3 and 6 have
    // no ≥0.98 partner with smaller precedence → guaranteed survivors
    assert((oneShot & Set(4L)) === Set.empty[Long])
    assert(Set(3L, 6L).subsetOf(oneShot))
    // precision: every drop is a true ≥0.98 pair under the exact tiled
    // all-pairs baseline (corpus∪batch, smaller-precedence pairs)
    val exactDropped = GraftOps.embeddingNearDupPairs(df, "vec_id",
        "embedding", minCosine = 0.98)
      .select("d2").collect().map(_.getLong(0)).toSet
    val dropped =
      batch.select("vec_id").collect().map(_.getLong(0)).toSet -- oneShot
    assert(dropped.subsetOf(exactDropped))
    // monotone splits compose to the one-shot result
    for (split <- Seq(Seq(Seq(2L, 3L), Seq(4L, 5L, 6L)),
        (2L to 6L).map(Seq(_)))) {
      val dir = freshIndex()
      val got = split.map { ids =>
        val b = df.filter(col("vec_id").isin(ids: _*))
        val sv = survivors(dir, b)
        GraftOps.srpIndexAppend(b, "vec_id", "embedding", dir)
        sv
      }.reduce(_ ++ _)
      assert(got === oneShot, s"split $split must equal one-shot")
    }
    // wrong-width batch fails loudly with the op name
    val e = intercept[Exception] {
      survivors(freshIndex(),
        Seq(9L -> Array(1f, 0f)).toDF("vec_id", "embedding"))
    }
    assert(e.getMessage.contains("dedupEmbAgainstCorpus") ||
      Option(e.getCause).exists(_.getMessage.contains("dedupEmbAgainstCorpus")))
  }

  test("index-family guards: wrong-width IVF append/search, null text in " +
    "the minhash sketch, and the embedding hot-bucket dial") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, fx)
    val ivf = java.nio.file.Files.createTempDirectory("graft_dimg_").toString
    GraftOps.ivfBuild(emb, "vec_id", "embedding", ivf, nLists = 2,
      lloydIters = 2)
    // wrong-width append would corrupt the index via prefix dot products
    val e1 = intercept[Exception] {
      GraftOps.ivfAppend(Seq(99L -> Array(1f, 0f)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", ivf)
    }
    def deep(e: Throwable): String =
      Option(e.getCause).map(c => e.getMessage + deep(c)).getOrElse(e.getMessage)
    assert(deep(e1).contains("ivfAppend"))
    val e2 = intercept[Exception] {
      GraftOps.ivfSearch(Seq(99L -> Array(1f, 0f)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", ivf, k = 1).collect()
    }
    assert(deep(e2).contains("ivfSearch"))
    // null text fails loudly instead of vanishing from the index
    val fpi = java.nio.file.Files.createTempDirectory("graft_nullg_").toString
    val e3 = intercept[Exception] {
      GraftOps.fingerprintBuild(
        Seq((1L, "ok text"), (2L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"), "doc_id", "text", fpi)
    }
    assert(deep(e3).contains("null text"))
    // embedding hot-bucket dial mirrors the fingerprint twin: an
    // identical-template group above the cap escapes, sub-cap pairs drop
    val srp = java.nio.file.Files.createTempDirectory("graft_srph_").toString
    GraftOps.srpIndexBuild(
      Seq(0L -> Array(1f, 0f, 0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", srp, dim = 3)
    val batch = Seq(10L -> Array(1f, 0f, 0f), 11L -> Array(1f, 0f, 0f),
      12L -> Array(0f, 0f, 1f)).toDF("vec_id", "embedding")
    def run(cap: Option[Int]) = GraftOps.dedupEmbAgainstCorpus(
        batch, "vec_id", "embedding", srp, minCosine = 0.98, cap)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(run(None) === Set(12L))
    assert(run(Some(2)) === Set(10L, 11L, 12L),
      "the occupancy-3 template bucket is hot at cap 2 — copies escape")
  }

  test("zero-norm vectors have no cosine: they match nothing, rank " +
    "nowhere, and never drop anything") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = Seq(0L -> Array(1f, 0f, 0f), 1L -> Array(1f, 0f, 0f),
      2L -> Array(0f, 0f, 0f)).toDF("vec_id", "embedding")
    // NaN cosine would compare ABOVE any threshold — the zero vector
    // must instead emit no pairs at all, even at minCosine = 0
    val pairs = GraftOps.embeddingNearDupPairs(emb, "vec_id", "embedding",
        minCosine = 0.0).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
    // and it neither queries nor ranks in top-k
    val nn = GraftOps.cosineTopK(emb, "vec_id", "embedding",
      queryPred = col("vec_id") >= 0, k = 2).collect()
    assert(!nn.exists(_.getLong(0) == 2L), "zero query emits no rows")
    assert(!nn.exists(_.getLong(2) == 2L), "zero vector never ranks")
    // and in the SRP dedup index it never drops a fresh vector
    val dir = java.nio.file.Files.createTempDirectory("graft_zero_").toString
    GraftOps.srpIndexBuild(emb.filter(col("vec_id") === 2), "vec_id",
      "embedding", dir, dim = 3)
    val sv = GraftOps.dedupEmbAgainstCorpus(
        emb.filter(col("vec_id") <= 1), "vec_id", "embedding", dir,
        minCosine = 0.0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sv === Set(0L), "only the real in-batch dup drops — never " +
      "a zero-vector phantom match")
  }

  test("NaN/null-element guards: TopKAgg drops NaN candidates; graft_dot " +
    "treats a null element as 0-contribution (the documented, measured " +
    "convention) on both eval paths") {
    val s = spark
    import s.implicits._
    import graft.functions.{ScoredId, TopKAgg}
    val agg = new TopKAgg(2)
    val b = Seq(ScoredId(Double.NaN, 7L), ScoredId(0.5, 1L),
      ScoredId(Double.NaN, 8L)).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(b) === Seq(ScoredId(0.5, 1L)),
      "NaN has no rank — it must never occupy (or poison) a slot")
    graft.GraftExtensions.register(s)
    // interpreted (constant-folded) path: null slot contributes 0
    assert(s.sql("SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), " +
      "array(1.0D, 5.0D)) AS d").collect().head.getDouble(0) === 1.0)
    // codegen path over a nullable-element column; whole-array null still
    // nulls the result (BinaryExpression contract)
    val df = Seq(
      (Some(Seq(Option(1.0), None)), Seq(Option(1.0), Option(5.0))),
      (Some(Seq(Option(2.0), Option(3.0))), Seq(Option(1.0), Option(1.0))),
      (None, Seq(Option(1.0), Option(1.0))))
      .toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS d")
      .collect()
    assert(df(0).getDouble(0) === 1.0 && df(1).getDouble(0) === 5.0)
    assert(df(2).isNullAt(0))
  }

  test("a null score never wins keep-best dedup") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val docs = Seq((1L, "same text", None: Option[Double]),
      (2L, "same text", Some(5.0)), (3L, "same text", None),
      (9L, "other", None)).toDF("doc_id", "text", "score")
    val rows = GraftOps.exactDedupRows(docs, "doc_id", "text", "score")
      .collect().map(r => r.getLong(0)).toSet
    assert(rows === Set(2L, 9L),
      "the scored row beats null scores; an all-null group keeps min id")
    val kb = GraftOps.exactDedupKeepBest(docs, "doc_id", "text", "score")
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).toMap
    assert(kb(2L) === Some(5.0))
    assert(kb(9L) === None)
  }

  test("missing index dirs fail loudly, naming the build entry point") {
    val s = spark
    import s.implicits._
    val nowhere = java.nio.file.Files.createTempDirectory("graft_none_")
      .toString + "/absent"
    val docs = Seq(1L -> "alpha beta").toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      graft.api.GraftOps.dedupNearAgainstCorpus(docs, "doc_id", "text", nowhere)
    }
    assert(e1.getMessage.contains("fingerprintBuild"))
    val e2 = intercept[IllegalArgumentException] {
      graft.api.GraftOps.ivfSearch(
        Tables.embeddings(s, fx), "vec_id", "embedding", nowhere, k = 2)
    }
    assert(e2.getMessage.contains("ivfBuild"))
  }

  test("day-0 bootstrap: a fingerprint index built from an EMPTY corpus " +
    "works — the first batch dedups in-batch only, then history accrues") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val dir = java.nio.file.Files.createTempDirectory("graft_day0_").toString
    GraftOps.fingerprintBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", dir)
    val b1 = Seq(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      3L -> "one two three").toDF("doc_id", "text")
    val sv1 = GraftOps.dedupNearAgainstCorpus(b1, "doc_id", "text", dir, 80)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sv1 === Set(1L, 3L), "no history yet — in-batch smallest id wins")
    GraftOps.fingerprintAppend(b1, "doc_id", "text", dir)
    val b2 = Seq(4L -> "one two three").toDF("doc_id", "text")
    assert(GraftOps.dedupNearAgainstCorpus(b2, "doc_id", "text", dir, 80)
      .collect().isEmpty, "batch 1 is history now")
    // the embedding twin bootstraps from empty identically
    graft.GraftExtensions.register(s)
    val srp = java.nio.file.Files.createTempDirectory("graft_day0e_").toString
    GraftOps.srpIndexBuild(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", srp, dim = 3)
    val vb = Seq(1L -> Array(1f, 0f, 0f), 2L -> Array(1f, 0f, 0f))
      .toDF("vec_id", "embedding")
    assert(GraftOps.dedupEmbAgainstCorpus(vb, "vec_id", "embedding", srp,
        minCosine = 0.98)
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("index compaction: appends accrete small segments; compact + " +
    "vacuum rewrite to the build layout with identical rows and " +
    "pruning intact") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    def parquetFiles(dir: String): Int = {
      val root = java.nio.file.Paths.get(dir)
      val it = java.nio.file.Files.walk(root)
      try it.filter(p => p.toString.endsWith(".parquet"))
        .count().toInt
      finally it.close()
    }
    // one logical table's on-disk file count = the sum over the segment
    // dirs its latest manifest references
    def tableFiles(dir: String, table: String): Int =
      IndexStore.resolve(s, dir).get.tables(table)
        .map(v => parquetFiles(s"$dir/$v/$table")).sum
    def readTable(dir: String, table: String) =
      IndexStore.readTable(s, dir, IndexStore.resolve(s, dir).get, table)
    // fingerprint index: build + 3 appends
    val fpi = java.nio.file.Files.createTempDirectory("graft_cmp_").toString
    GraftOps.fingerprintBuild(
      Seq(0L -> "alpha beta gamma").toDF("doc_id", "text"),
      "doc_id", "text", fpi)
    for (i <- 1 to 3)
      GraftOps.fingerprintAppend(
        Seq(i.toLong -> s"doc number $i words").toDF("doc_id", "text"),
        "doc_id", "text", fpi)
    def fpRows() = readTable(fpi, "docs")
      .select("doc_id", "sz").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = fpRows()
    assert(tableFiles(fpi, "docs") >= 4, "each append adds a segment")
    GraftOps.fingerprintCompact(s, fpi)
    assert(tableFiles(fpi, "docs") === 1)
    assert(tableFiles(fpi, "bands") === 1)
    assert(fpRows() === before, "compaction must not change a row")
    // vacuum reclaims every superseded segment: afterwards the whole
    // index dir holds exactly the live tables' files
    assert(GraftOps.indexVacuum(s, fpi).nonEmpty)
    assert(parquetFiles(fpi) === 2, "post-vacuum: one file per table")
    // the compacted index still answers dedup queries
    assert(GraftOps.dedupNearAgainstCorpus(
      Seq(9L -> "alpha beta gamma").toDF("doc_id", "text"),
      "doc_id", "text", fpi).collect().isEmpty)
    // IVF index: build + append, compact back to one file per list
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, fx)
    val ivf = java.nio.file.Files.createTempDirectory("graft_cmpv_").toString
    GraftOps.ivfBuild(emb.filter(col("vec_id") <= 1), "vec_id", "embedding",
      ivf, nLists = 2, lloydIters = 2)
    GraftOps.ivfAppend(emb.filter(col("vec_id") >= 2), "vec_id", "embedding", ivf)
    def hits() = GraftOps.ivfSearch(emb, "vec_id", "embedding", ivf,
        k = 2, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val hitsBefore = hits()
    GraftOps.ivfCompact(s, ivf)
    GraftOps.indexVacuum(s, ivf)
    val corpusSeg = IndexStore.resolve(s, ivf).get.tables("corpus") match {
      case Seq(v) => s"$ivf/$v/corpus"
      case other => fail(s"compact must leave one corpus segment, got $other")
    }
    val buckets = new java.io.File(corpusSeg).listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    buckets.foreach { b =>
      assert(b.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"list ${b.getName} must compact to one file")
    }
    assert(hits() === hitsBefore, "search results unchanged by compaction")
  }

  test("index snapshot isolation: a reader resolved before an append/" +
    "compact/vacuum keeps its complete consistent table; concurrent " +
    "writers fail loudly at the claim, before any work") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val fpi = java.nio.file.Files.createTempDirectory("graft_iso_").toString
    GraftOps.fingerprintBuild(
      Seq(0L -> "alpha beta", 1L -> "gamma delta").toDF("doc_id", "text"),
      "doc_id", "text", fpi)
    // a reader resolves its snapshot, then an append AND a compact land
    // before it collects — it must still see exactly the two build docs
    val pre = IndexStore.resolve(s, fpi).get
    val preDocs = IndexStore.readTable(s, fpi, pre, "docs").select("doc_id")
    GraftOps.fingerprintAppend(
      Seq(2L -> "epsilon zeta").toDF("doc_id", "text"), "doc_id", "text", fpi)
    GraftOps.fingerprintCompact(s, fpi)
    assert(preDocs.collect().map(_.getLong(0)).toSet === Set(0L, 1L),
      "pre-mutation snapshot must stay complete and consistent")
    // ... and the LATEST snapshot sees all three
    assert(IndexStore.readTable(s, fpi, IndexStore.resolve(s, fpi).get,
        "docs").select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L))
    // crashed-writer residue: a CLAIM for the next version makes every
    // writer fail loudly NAMING the file, before any data job; readers
    // are unaffected; clearing the claim unblocks the chain
    val nextClaim = f"v${IndexStore.resolve(s, fpi).get.version + 1}%05d.CLAIM"
    val claim = new org.apache.hadoop.fs.Path(s"$fpi/_manifests/$nextClaim")
    val fs = claim.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(claim, false).close()
    val e = intercept[graft.api.ConcurrentIndexWriteException] {
      GraftOps.fingerprintAppend(
        Seq(3L -> "eta theta").toDF("doc_id", "text"), "doc_id", "text", fpi)
    }
    assert(e.getMessage.contains(nextClaim))
    assert(GraftOps.dedupNearAgainstCorpus(
        Seq(9L -> "totally new words").toDF("doc_id", "text"),
        "doc_id", "text", fpi).collect().map(_.getLong(0)).toSet === Set(9L),
      "reads stay available while the chain is blocked")
    fs.delete(claim, false)
    GraftOps.fingerprintAppend(
      Seq(3L -> "eta theta").toDF("doc_id", "text"), "doc_id", "text", fpi)
    assert(IndexStore.readTable(s, fpi, IndexStore.resolve(s, fpi).get,
        "docs").select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L, 3L))
  }

  test("index lifecycle under churn: interleaved append → compact → " +
    "vacuum → search cycles hold row and answer invariants at every step") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    // ---- fingerprint family: 4 cycles of dedup-check + append, with a
    // compact+vacuum every second cycle; at every step the docs table
    // holds exactly the appended ids and history queries keep dropping
    val fpi = java.nio.file.Files.createTempDirectory("graft_churn_").toString
    GraftOps.fingerprintBuild(
      Seq(0L -> "base doc words zero").toDF("doc_id", "text"),
      "doc_id", "text", fpi)
    def docs() = IndexStore.readTable(s, fpi,
        IndexStore.resolve(s, fpi).get, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    var expected = Set(0L)
    for (cycle <- 1 to 4) {
      val id = cycle * 10L
      val batch = Seq(
        id -> s"cycle $cycle brings tokens ${cycle * 7} and ${cycle * 13}",
        (id + 1) -> "base doc words zero") // history dup → drops in the check
      val sv = GraftOps.dedupNearAgainstCorpus(
          batch.toDF("doc_id", "text"), "doc_id", "text", fpi)
        .collect().map(_.getLong(0)).toSet
      assert(sv === Set(id), s"cycle $cycle: novel doc survives, dup drops")
      GraftOps.fingerprintAppend(batch.toDF("doc_id", "text"),
        "doc_id", "text", fpi)
      expected ++= Set(id, id + 1)
      if (cycle % 2 == 0) {
        GraftOps.fingerprintCompact(s, fpi)
        assert(GraftOps.indexVacuum(s, fpi).nonEmpty,
          s"cycle $cycle: vacuum after compact reclaims superseded segments")
        assert(IndexStore.resolve(s, fpi).get.tables("docs").size === 1,
          s"cycle $cycle: compact leaves one docs segment")
      }
      assert(docs() === expected, s"cycle $cycle: docs table holds " +
        "exactly the build + every appended batch")
      assert(GraftOps.dedupNearAgainstCorpus(
          Seq(999L -> "base doc words zero").toDF("doc_id", "text"),
          "doc_id", "text", fpi).collect().isEmpty,
        s"cycle $cycle: history queries keep dropping")
    }
    // ---- IVF family: append a new direction per cycle, compact on odd
    // cycles; every vector must keep finding ITSELF as its cosine-nearest
    // (excludeSelf = false) through every mutation
    graft.GraftExtensions.register(s)
    def vec(theta: Double) =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat)
    val ivf = java.nio.file.Files.createTempDirectory("graft_churnv_").toString
    GraftOps.ivfBuild(
      Seq(0L -> vec(0.0), 1L -> vec(1.5)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", ivf, nLists = 2, lloydIters = 2)
    var all = Seq(0L -> vec(0.0), 1L -> vec(1.5))
    for (cycle <- 1 to 4) {
      val id = 10L + cycle
      all :+= (id -> vec(0.3 * cycle + 2.0))
      GraftOps.ivfAppend(Seq(all.last).toDF("vec_id", "embedding"),
        "vec_id", "embedding", ivf)
      if (cycle % 2 == 1) {
        GraftOps.ivfCompact(s, ivf)
        GraftOps.indexVacuum(s, ivf)
      }
      val self = GraftOps.ivfSearch(all.toDF("vec_id", "embedding"),
          "vec_id", "embedding", ivf, k = 1, nProbe = 2,
          excludeSelf = false)
        .select("qid", "vid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(all.forall { case (i, _) => self.get(i).contains(i) },
        s"cycle $cycle: every indexed vector finds itself at cosine 1.0")
      val corpusRows = IndexStore.readTable(s, ivf,
        IndexStore.resolve(s, ivf).get, "corpus").count()
      assert(corpusRows === all.size.toLong,
        s"cycle $cycle: corpus row count tracks the appends")
    }
  }

  test("concurrent index writers: two threads racing an append — exactly " +
    "one publishes per version, the loser fails loudly, and the table " +
    "never loses or duplicates a row") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_race_").toString
    GraftOps.fingerprintBuild(
      Seq(0L -> "alpha beta gamma").toDF("doc_id", "text"),
      "doc_id", "text", dir)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val losers = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      for (round <- 1 to 3) {
        val gate = new CountDownLatch(1)
        val fs = (0 to 1).map { t =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.await()
              val id = round * 10L + t
              try {
                GraftOps.fingerprintAppend(
                  Seq(id -> s"words for doc $id number ${id * 7}")
                    .toDF("doc_id", "text"), "doc_id", "text", dir)
                true
              } catch {
                case _: graft.api.ConcurrentIndexWriteException =>
                  losers.incrementAndGet(); false
              }
            }
          })
        }
        gate.countDown()
        val ok = fs.map(_.get(120, TimeUnit.SECONDS))
        assert(ok.contains(true), s"round $round: at least one append wins")
        // whoever lost (if anyone) retries AFTER the winner — the normal
        // recovery the exception's contract prescribes — so every round
        // ends with both docs present exactly once
        ok.zipWithIndex.filter(!_._1).foreach { case (_, t) =>
          val id = round * 10L + t
          GraftOps.fingerprintAppend(
            Seq(id -> s"words for doc $id number ${id * 7}")
              .toDF("doc_id", "text"), "doc_id", "text", dir)
        }
      }
    } finally pool.shutdown()
    val docs = IndexStore.readTable(s, dir, IndexStore.resolve(s, dir).get,
        "docs").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(docs.sorted === docs.distinct.sorted.sorted,
      "no row may be duplicated by the race")
    assert(docs.toSet === Set(0L, 10L, 11L, 20L, 21L, 30L, 31L),
      "no row may be lost by the race")
    // the claim gate actually fired at least once across three rounds on
    // a 2-thread race, OR every race happened to serialize — both are
    // legal; what matters is the invariants above held. Record the count
    // for the curious.
    info(s"losers across 3 rounds: ${losers.get()}")
  }

  test("cluster index: batch-at-a-time unions equal one-shot " +
    "connectedComponents — cross-batch merges, chain flattening on " +
    "compact, replay skip, day-0 bootstrap, loud nulls") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_clx_").toString
    // batch 1: {1-2} {5-6}; batch 2 BRIDGES them (2-5) and adds {8-9};
    // batch 3 attaches 9 to the big cluster (9-1) — a three-way
    // cross-batch transitive merge no pairwise-first-wins scheme sees
    GraftOps.clusterIndexBuild(Seq((2L, 1L), (5L, 6L)).toDF("x", "y"),
      "x", "y", dir, nBuckets = 8)
    GraftOps.clusterIndexAppend(Seq((2L, 5L), (8L, 9L)).toDF("x", "y"),
      "x", "y", dir, batchId = Some(1L))
    GraftOps.clusterIndexAppend(Seq((9L, 1L)).toDF("x", "y"),
      "x", "y", dir, batchId = Some(2L))
    def resolved() = GraftOps.clusterResolve(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = GraftOps.connectedComponents(
        Seq((2L, 1L), (5L, 6L), (2L, 5L), (8L, 9L), (9L, 1L))
          .toDF("x", "y"), "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved() === oneShot, "incremental == one-shot")
    assert(resolved().values.toSet === Set(1L),
      "all six nodes transitively collapse to min id 1")
    // a replayed batch (id at the watermark) is a committed no-op
    val v0 = IndexStore.resolve(s, dir).get.version
    GraftOps.clusterIndexAppend(Seq((9L, 1L)).toDF("x", "y"), "x", "y",
      dir, batchId = Some(2L))
    assert(IndexStore.resolve(s, dir).get.version === v0)
    // empty batches are a no-op; null endpoints fail loudly
    GraftOps.clusterIndexAppend(Seq.empty[(Long, Long)].toDF("x", "y"),
      "x", "y", dir)
    assert(IndexStore.resolve(s, dir).get.version === v0)
    val e = intercept[Exception] {
      GraftOps.clusterIndexAppend(
        Seq((Some(1L), None: Option[Long])).toDF("x", "y"), "x", "y", dir)
    }
    assert(e.getMessage.contains("clusterIndexAppend") ||
      Option(e.getCause).exists(_.getMessage.contains("clusterIndexAppend")))
    // compact: path compression — every surviving chain is one hop,
    // the resolved answer is unchanged
    GraftOps.clusterIndexCompact(s, dir)
    assert(resolved() === oneShot, "the fold changes no answer")
    assert(IndexStore.resolve(s, dir).get.tables("parents").size === 1)
    // day-0 bootstrap: an index built from ZERO edges accepts appends
    val dir2 = java.nio.file.Files.createTempDirectory("graft_clx0_").toString
    GraftOps.clusterIndexBuild(Seq.empty[(Long, Long)].toDF("x", "y"),
      "x", "y", dir2, nBuckets = 4)
    GraftOps.clusterIndexAppend(Seq((3L, 7L)).toDF("x", "y"), "x", "y", dir2)
    assert(GraftOps.clusterResolve(s, dir2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(7L -> 3L),
      "bootstrap: the appended pair clusters (rootless root 3 is " +
        "implicit, dedupApply's coalesce contract)")
  }

  test("cluster-index erasure: retract excludes a node from resolve " +
    "immediately (member AND label), compact un-merges what a bridge " +
    "takedown alone connected, re-ingest revives, replay skips") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_clr_").toString
    // {1,2,3} and {10,11} joined ONLY through bridge node 5
    GraftOps.clusterIndexBuild(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("x", "y"), "x", "y", dir,
      nBuckets = 8)
    GraftOps.clusterIndexAppend(
      Seq((3L, 5L), (5L, 10L)).toDF("x", "y"), "x", "y", dir)
    def resolved() = GraftOps.clusterResolve(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved().values.toSet === Set(1L),
      "pre-takedown: one merged cluster labeled by min id 1")
    // takedown of the bridge
    GraftOps.clusterRetract(Seq(5L).toDF("id"), "id", dir,
      batchId = Some(1L))
    val pre = resolved()
    assert(!pre.contains(5L) && !pre.values.toSet.contains(5L),
      "immediately: the retracted id appears nowhere in resolve output")
    assert(pre.values.toSet === Set(1L),
      "the documented window: bridged clusters stay merged until compact")
    // a replayed retract (id at the watermark) is a committed no-op
    val v0 = IndexStore.resolve(s, dir).get.version
    GraftOps.clusterRetract(Seq(5L).toDF("id"), "id", dir,
      batchId = Some(1L))
    assert(IndexStore.resolve(s, dir).get.version === v0)
    // compact: affected component re-derives from surviving edges —
    // the takedown's clusters actually SPLIT
    GraftOps.clusterIndexCompact(s, dir)
    val post = resolved()
    assert(!post.contains(5L) && !post.values.toSet.contains(5L))
    assert(Set(1L, 2L, 3L).flatMap(post.get) === Set(1L) &&
      Set(10L, 11L).flatMap(post.get) === Set(10L),
      s"bridge takedown un-merges: {1,2,3} and {10,11} split ($post)")
    assert(!IndexStore.resolve(s, dir).get.tables.contains("tombstones"),
      "compact folds the tombstones away — post-compact reads pay zero")
    // re-ingest: a NEW edge mentioning the retracted node revives it —
    // 5 is now the min of {5,10,11}, so it is the (row-less) ROOT and
    // the cluster relabels to it
    GraftOps.clusterIndexAppend(Seq((5L, 11L)).toDF("x", "y"), "x", "y", dir)
    val revived = resolved()
    assert(revived.get(10L) === Some(5L) && revived.get(11L) === Some(5L),
      s"re-ingested node rejoins via its new edge only ($revived)")
    assert(Set(1L, 2L, 3L).flatMap(revived.get) === Set(1L),
      "the old, taken-down associations do NOT come back")
  }

  test("cluster-index erasure: retracting a cluster's MIN member " +
    "relabels to the min live member, and sequenced revival keeps " +
    "pre-compact retract → re-ingest consistent") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val dir = java.nio.file.Files.createTempDirectory("graft_clr2_").toString
    GraftOps.clusterIndexBuild(
      Seq((1L, 2L), (2L, 3L)).toDF("x", "y"), "x", "y", dir, nBuckets = 8)
    GraftOps.clusterRetract(Seq(1L).toDF("id"), "id", dir)
    def resolved() = GraftOps.clusterResolve(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved() === Map(2L -> 2L, 3L -> 2L),
      "the dead label 1 relabels to min LIVE member 2, pre-compact")
    GraftOps.clusterIndexCompact(s, dir)
    assert(resolved() === Map(2L -> 2L, 3L -> 2L),
      "compact re-derives to the same answer: edge 2-3 survives")
    // retract 3, then re-ingest it BEFORE any compact: the later edge
    // supersedes the tombstone (sequenced, the digest family's rule)
    GraftOps.clusterRetract(Seq(3L).toDF("id"), "id", dir)
    assert(resolved() === Map(2L -> 2L),
      "retracted 3 excluded pre-compact")
    GraftOps.clusterIndexAppend(Seq((3L, 2L)).toDF("x", "y"), "x", "y", dir)
    assert(resolved().get(3L) === Some(2L),
      "an edge appended after the tombstone revives the node")
    GraftOps.clusterIndexCompact(s, dir)
    assert(resolved().get(3L) === Some(2L),
      "revival survives the compact: only pre-tombstone edges died")
  }

  test("q126 binding: the incremental clustering equals q88's one-shot " +
    "answer on the fixture") {
    assert(TextOps.q126(spark, fx).collect().map(_.toString).toSeq ===
      TextOps.q88(spark, fx).collect().map(_.toString).toSeq)
  }

  test("retract-then-curate micro-batch: a crash between the retract " +
    "commit and the curate's append converges on replay — the retract " +
    "skips (its own watermark), the curate proceeds") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps, IndexStore}
    // the same tick on two identical indexes: one runs clean, one
    // crashes after the retract and replays the WHOLE tick
    def build(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_rtc_").toString
      GraftOps.fingerprintBuild(Seq(
          1L -> "alpha beta gamma delta",
          2L -> "one two three four five").toDF("doc_id", "text"),
        "doc_id", "text", dir)
      dir
    }
    // tick 7: the crawl refresh removed doc 1, and the batch re-ingests
    // doc 1's old content under a new id (accepted only if the retract
    // committed) plus a dup of still-live doc 2 (always drops)
    val batch = Seq(10L -> "alpha beta gamma delta",
      11L -> "one two three four five",
      12L -> "genuinely novel closing words")
    def tick(dir: String): Set[Long] = {
      GraftOps.fingerprintRetract(Seq(1L).toDF("doc_id"), "doc_id", dir,
        batchId = Some(7L))
      CurationPipeline.curateIncremental(batch.toDF("doc_id", "text"),
          "doc_id", "text", dir, maxTopWordRatio = 0.3,
          batchId = Some(7L))
        .collect().map(_.getLong(0)).toSet
    }
    val clean = build()
    val cleanSv = tick(clean)
    assert(cleanSv === Set(10L, 12L),
      "retracted content re-ingests; live content gates; novel survives")
    val crashed = build()
    // the crash: only the retract commits, the curate never runs
    GraftOps.fingerprintRetract(Seq(1L).toDF("doc_id"), "doc_id", crashed,
      batchId = Some(7L))
    // the engine replays the whole tick with the SAME batch id: the
    // second retract is a committed no-op (last_retract watermark), the
    // curate proceeds as the first attempt — identical survivors and
    // identical index state to the no-crash run
    val vAfterCrash = IndexStore.resolve(s, crashed).get.version
    assert(tick(crashed) === cleanSv, "replayed tick converges")
    assert(IndexStore.resolve(s, crashed).get.version === vAfterCrash + 1,
      "exactly ONE more commit on replay: the curate's append — the " +
        "replayed retract publishes nothing")
    def docsOf(dir: String) = IndexStore.readTable(s, dir,
        IndexStore.resolve(s, dir).get, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docsOf(crashed) === docsOf(clean),
      "both paths end with the same indexed docs")
  }

  test("append racing a retract: both commitWithRetry writers publish, " +
    "and the outcome is one of the two serial orders — never a torn " +
    "state") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to 3) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_rrace$round").toString
        // doc 1 is in history; the APPEND re-adds doc 1's id with
        // REFRESHED content while the RETRACT takes id 1 down
        GraftOps.fingerprintBuild(
          Seq(1L -> "alpha beta gamma delta").toDF("doc_id", "text"),
          "doc_id", "text", dir)
        val gate = new CountDownLatch(1)
        val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { gate.await()
            GraftOps.fingerprintAppend(
              Seq(1L -> "completely refreshed words now")
                .toDF("doc_id", "text"), "doc_id", "text", dir) } })
        val fr = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { gate.await()
            GraftOps.fingerprintRetract(Seq(1L).toDF("doc_id"),
              "doc_id", dir) } })
        gate.countDown()
        fa.get(120, TimeUnit.SECONDS); fr.get(120, TimeUnit.SECONDS)
        // both published (commitWithRetry absorbs the claim race)
        val snap = IndexStore.resolve(s, dir).get
        assert(snap.version === 3, s"round $round: both writers publish")
        // outcome is ONE of the serial orders, observable through probes:
        //   append-then-retract → the tombstone (higher version) kills
        //     BOTH rows of id 1 → old and new content both re-ingestable;
        //   retract-then-append → the refreshed row outlives the
        //     tombstone → new content gates, old content re-ingestable.
        def gates(t: String): Boolean = GraftOps.dedupNearAgainstCorpus(
            Seq(900L -> t).toDF("doc_id", "text"), "doc_id", "text", dir)
          .collect().isEmpty
        val oldGates = gates("alpha beta gamma delta")
        val newGates = gates("completely refreshed words now")
        assert(!oldGates, s"round $round: the ORIGINAL content is " +
          "retracted under either serialization")
        val retractSegs = snap.tables("tombstones")
          .map(_.stripPrefix("v").takeWhile(_.isDigit).toInt).max
        val appendSegs = snap.tables("docs")
          .map(_.stripPrefix("v").takeWhile(_.isDigit).toInt).max
        assert(newGates === (appendSegs > retractSegs),
          s"round $round: refreshed content gates iff the append " +
            "serialized after the retract (torn state otherwise)")
        // and the compact folds whichever order happened cleanly
        GraftOps.fingerprintCompact(s, dir)
        assert(gates("completely refreshed words now") === newGates,
          s"round $round: the fold preserves the serialized outcome")
      }
    } finally pool.shutdown()
  }

  test("curateIncremental digestDir: the exact pre-filter composes to " +
    "identical survivors batch after batch, and the step maintains the " +
    "digest/fingerprint pair together") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps, IndexStore}
    def text(i: Long) = (0 until 6).map(j => s"t${i}x$j").mkString(" ")
    // plain pipeline (no digest) and composed pipeline, same corpus
    val fPlain = java.nio.file.Files.createTempDirectory("graft_dp_f0_").toString
    val fComp = java.nio.file.Files.createTempDirectory("graft_dp_f1_").toString
    val dComp = java.nio.file.Files.createTempDirectory("graft_dp_d1_").toString
    val corpus = Seq(0L -> text(0)).toDF("doc_id", "text")
    GraftOps.fingerprintBuild(corpus, "doc_id", "text", fPlain)
    GraftOps.fingerprintBuild(corpus, "doc_id", "text", fComp)
    GraftOps.digestIndexBuild(corpus, "text", dComp, nBuckets = 8)
    def run(rows: Seq[(Long, String)], b: Long): (Set[Long], Set[Long]) = {
      def step(dir: String, dd: Option[String]) =
        CurationPipeline.curateIncremental(rows.toDF("doc_id", "text"),
            "doc_id", "text", dir, maxTopWordRatio = 0.3,
            batchId = Some(b), digestDir = dd)
          .collect().map(_.getLong(0)).toSet
      (step(fPlain, None), step(fComp, Some(dComp)))
    }
    def digests(): Set[String] = IndexStore.readTable(s, dComp,
        IndexStore.resolve(s, dComp).get, "digests")
      .select("digest").collect().map(_.getString(0)).toSet
    def md5Of(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // batch 1: exact history dup (digest path), novel, within-batch
    // exact dup (band-join path — its digest is NOT yet indexed), novel
    val b1 = Seq(10L -> text(0), 11L -> text(11), 12L -> text(11),
      13L -> text(13))
    val (p1, c1) = run(b1, 0L)
    assert(p1 === Set(11L, 13L) && c1 === p1,
      "composed survivors equal the un-composed step's")
    // pair maintenance: the digest set gains exactly the batch's NOVEL
    // digests (the within-batch dup shares the survivor's), and the
    // fingerprint side indexes the pre-filtered rows (near-dup/
    // within-batch drops included; the exact-dropped 10 is represented
    // by its byte-identical history twin 0)
    assert(digests() === Set(text(0), text(11), text(13)).map(md5Of))
    assert(IndexStore.readTable(s, fComp,
        IndexStore.resolve(s, fComp).get, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(0L, 11L, 12L, 13L))
    // batch 2 exercises the asymmetry batch 1 created: 20 exact-dups a
    // BATCH-appended doc, 21 exact-dups the build corpus, 22 is novel
    val b2 = Seq(20L -> text(11), 21L -> text(0), 22L -> text(22))
    val (p2, c2) = run(b2, 1L)
    assert(p2 === Set(22L) && c2 === p2,
      "equivalence survives the pair's asymmetric appends")
    assert(digests().contains(md5Of(text(22))))
  }

  test("curateIncremental dsirStatsDir: the distribution gate composes " +
    "(gate-then-step ≡ composed step), the raw side tracks ARRIVALS " +
    "pre-gate, and a batchId replay skips the second stats append") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps, IndexStore}
    val seedText = "aa bb cc dd ee ff gg hh"
    val poolText = "xx yy zz ww vv uu tt ss"
    val farText = "q1 q2 q3 q4 q5 q6 q7 q8"
    val pool = Seq(0L -> poolText).toDF("doc_id", "text")
    val seed = Seq(Tuple1(seedText)).toDF("text")
    val sd = java.nio.file.Files.createTempDirectory("graft_cg_s_").toString
    GraftOps.dsirStatsBuild(pool, "doc_id", "text", seed, "text", sd,
      nBuckets = 8)
    // target-like doc vs vocabulary-disjoint doc; threshold strictly
    // between their store-scores makes the gate verdict deterministic
    val batch = Seq(30L -> seedText, 31L -> farText).toDF("doc_id", "text")
    val scores = GraftOps.dsirScoreAgainstStats(batch, "doc_id", "text", sd)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(30L) > scores(31L),
      s"the target-like doc must outscore the disjoint one ($scores)")
    val thr = (scores(30L) + scores(31L)) / 2
    def rawTotal(): Long = IndexStore.readTable(s, sd,
        IndexStore.resolve(s, sd).get, "totals")
      .filter(col("side") === "raw")
      .agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val nr0 = rawTotal()
    def mkFp(): String = {
      val f = java.nio.file.Files.createTempDirectory("graft_cg_f_").toString
      GraftOps.fingerprintBuild(
        Seq(0L -> poolText).toDF("doc_id", "text"), "doc_id", "text", f)
      f
    }
    // composed step: only the target-like doc survives the gate
    val fComp = mkFp()
    val got = CurationPipeline.curateIncremental(batch, "doc_id", "text",
        fComp, maxTopWordRatio = 0.3, batchId = Some(0L),
        dsirStatsDir = Some(sd), minDsirScore = thr)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(30L), s"gate must drop the off-distribution doc: $got")
    // un-composed twin: gate first (same pre-append store state — the
    // composed step scored before appending), then the plain step
    val fPlain = mkFp()
    val gatedFirst = batch.filter(col("doc_id") === 30L)
    val want = CurationPipeline.curateIncremental(gatedFirst, "doc_id",
        "text", fPlain, maxTopWordRatio = 0.3, batchId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(got === want, "composed ≡ gate-then-un-composed")
    // the raw side grew by the WHOLE rep-gated batch's features (both
    // docs — arrivals, not survivors: 8 unigrams + 7 bigrams each at
    // n = 2, the up-to-n feature set)
    assert(rawTotal() === nr0 + 30,
      s"raw totals must track arrivals pre-gate (got ${rawTotal()} " +
        s"want ${nr0 + 30})")
    // fingerprint side indexed only the gate survivor's sketch
    assert(IndexStore.readTable(s, fComp,
        IndexStore.resolve(s, fComp).get, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(0L, 30L))
    // replay of the committed batch: same survivors, NO second stats
    // append (totals unchanged), scored against the pre-append base
    val replay = CurationPipeline.curateIncremental(batch, "doc_id",
        "text", fComp, maxTopWordRatio = 0.3, batchId = Some(0L),
        dsirStatsDir = Some(sd), minDsirScore = thr)
      .collect().map(_.getLong(0)).toSet
    assert(replay === Set(30L), "replay must reproduce the survivors")
    assert(rawTotal() === nr0 + 30, "replay must not append stats twice")
  }

  test("curateIncremental digestDir: a crash between the fingerprint " +
    "append and the digest append recovers through each index's OWN " +
    "replay watermark — the replayed batch converges to the no-crash " +
    "state") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps, IndexStore}
    def text(i: Long) = (0 until 6).map(j => s"t${i}x$j").mkString(" ")
    val batch = Seq(10L -> text(0), // exact dup of history → pre-filtered
      11L -> text(11), 12L -> text(13)) // novel → survive
    def mkPair(): (String, String) = {
      val f = java.nio.file.Files.createTempDirectory("graft_dx_f_").toString
      val d = java.nio.file.Files.createTempDirectory("graft_dx_d_").toString
      val corpus = Seq(0L -> text(0)).toDF("doc_id", "text")
      GraftOps.fingerprintBuild(corpus, "doc_id", "text", f)
      GraftOps.digestIndexBuild(corpus, "text", d, nBuckets = 8)
      (f, d)
    }
    def step(f: String, d: String): Set[Long] =
      CurationPipeline.curateIncremental(batch.toDF("doc_id", "text"),
          "doc_id", "text", f, maxTopWordRatio = 0.3,
          batchId = Some(0L), digestDir = Some(d))
        .collect().map(_.getLong(0)).toSet
    def state(f: String, d: String): (Set[Long], Set[String]) = (
      IndexStore.readTable(s, f, IndexStore.resolve(s, f).get, "docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet,
      IndexStore.readTable(s, d, IndexStore.resolve(s, d).get, "digests")
        .select("digest").collect().map(_.getString(0)).toSet)
    // reference: the no-crash composed step
    val (fRef, dRef) = mkPair()
    val refOut = step(fRef, dRef)
    assert(refOut === Set(11L, 12L))
    // crashed run: the first attempt dies AFTER the fingerprint append
    // (the appends run fingerprint-first), BEFORE the digest append —
    // constructed exactly: the un-composed step over the pre-filtered
    // rows appends the same sketches under the same batchId, and the
    // digest index never hears about batch 0
    val (fDir, dDir) = mkPair()
    CurationPipeline.curateIncremental(
      batch.filter(_._1 >= 11L).toDF("doc_id", "text"), "doc_id", "text",
      fDir, maxTopWordRatio = 0.3, batchId = Some(0L)): Unit
    assert(IndexStore.resolve(s, fDir).get.props("last_batch") === "0",
      "precondition: the fingerprint index committed batch 0")
    assert(IndexStore.resolve(s, dDir).get.props.get("last_batch").isEmpty,
      "precondition: the digest index never saw batch 0")
    // the engine replays batch 0: fingerprint time-travels and skips its
    // append, digest appends for the first time
    assert(step(fDir, dDir) === refOut,
      "the replayed batch emits the no-crash survivors")
    assert(state(fDir, dDir) === state(fRef, dRef),
      "both indexes converge to the no-crash state, nothing doubled")
    assert(IndexStore.resolve(s, fDir).get.props("last_batch") === "0")
    assert(IndexStore.resolve(s, dDir).get.props("last_batch") === "0")
  }

  test("index lifecycle randomized churn: 40 seeded ops over append / " +
    "compact / vacuum(keepVersions) / force-replay / read / RETRACT / " +
    "ghost-reingest hold the model invariants at every step") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_rand_").toString
    // disjoint 6-token vocabularies per id: J = 0 between distinct ids,
    // J = 1 for a copied text — the model needs only exact-text dedup
    // semantics (LSH recall on overlapping sets is pinned elsewhere)
    def text(i: Long) = (0 until 6).map(j => s"t${i}x$j").mkString(" ")
    GraftOps.fingerprintBuild(
      Seq(0L -> text(0)).toDF("doc_id", "text"), "doc_id", "text", dir)
    var model = Map(0L -> text(0)) // LIVE indexed docs: id -> text
    // retracted docs whose physical rows await the next compact's fold:
    // they must be INVISIBLE to every probe but still present in the
    // raw docs table (merge-on-read)
    var ghosts = Map.empty[Long, String]
    var nextId = 100L
    var nextBatch = 0L
    // the last APPEND-tick (batch rows, id, survivors) — replayable only
    // while it is the most recent mutation that touched the watermark
    var last: Option[(Seq[(Long, String)], Long, Set[Long])] = None
    val rnd = new scala.util.Random(20260814L)
    def docsNow(): Set[Long] = IndexStore.readTable(s, dir,
        IndexStore.resolve(s, dir).get, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def step(rows: Seq[(Long, String)], b: Long): Set[Long] =
      CurationPipeline.curateIncremental(rows.toDF("doc_id", "text"),
          "doc_id", "text", dir, maxTopWordRatio = 0.3,
          batchId = Some(b))
        .collect().map(_.getLong(0)).toSet
    for (op <- 1 to 40) {
      rnd.nextInt(8) match {
        case 0 | 1 => // append tick: mix of novel docs and history dups
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextId += 1
            if (rnd.nextBoolean() && model.nonEmpty) {
              val src = model.keys.toSeq.sorted(Ordering[Long])
                .apply(rnd.nextInt(model.size))
              nextId -> model(src) // exact dup of history -> must drop
            } else nextId -> text(nextId) // novel -> must survive
          }
          // survives iff text unseen in history AND this row is the
          // smallest-id holder of that text within the batch
          val expect = rows.filter { case (id, t) =>
            !model.values.exists(_ == t) &&
              rows.filter(_._2 == t).map(_._1).min == id
          }.map(_._1).toSet
          val got = step(rows, nextBatch)
          assert(got === expect, s"op $op: survivors mismatch")
          model ++= rows // full gated batch appended, drops included
          last = Some((rows, nextBatch, got))
          nextBatch += 1
        case 2 => // compact: rows and answers pinned; tombstones fold
          GraftOps.fingerprintCompact(s, dir)
          val t = IndexStore.resolve(s, dir).get.tables
          assert(t("docs").size === 1,
            s"op $op: compact leaves one docs segment")
          assert(!t.contains("tombstones"),
            s"op $op: compact folds any pending tombstones away")
          ghosts = Map.empty // the fold made the forgetting physical
        case 3 => // vacuum at a random horizon: latest stays readable
          GraftOps.indexVacuum(s, dir, keepVersions = 1 + rnd.nextInt(3))
        case 4 => // force-replay the last committed tick, if any
          last.foreach { case (rows, b, sv) =>
            val ver = IndexStore.resolve(s, dir).get.version
            assert(step(rows, b) === sv,
              s"op $op: replay must re-emit identical survivors")
            assert(IndexStore.resolve(s, dir).get.version === ver,
              s"op $op: replay must publish nothing")
          }
        case 5 => // read-only probe: one history dup + one novel
          if (model.nonEmpty) {
            val src = model.keys.toSeq.sorted(Ordering[Long])
              .apply(rnd.nextInt(model.size))
            val probe = Seq(900000L -> model(src), 900001L -> text(900001L))
            val sv = GraftOps.dedupNearAgainstCorpus(
                probe.toDF("doc_id", "text"), "doc_id", "text", dir)
              .collect().map(_.getLong(0)).toSet
            assert(sv === Set(900001L), s"op $op: probe dedup mismatch")
          }
        case 6 => // RETRACT 1-2 live docs (+ sometimes a bogus id — a
          // repeated erasure request over-approximates; harmless no-op)
          if (model.nonEmpty) {
            val ids = rnd.shuffle(model.keys.toSeq.sorted(Ordering[Long]))
              .take(1 + rnd.nextInt(2))
            val batch = if (rnd.nextBoolean()) ids :+ 987654321L else ids
            GraftOps.fingerprintRetract(batch.toDF("doc_id"), "doc_id", dir)
            ghosts ++= ids.map(i => i -> model(i))
            model --= ids
          }
        case 7 => // ghost re-ingest probe: retracted content must be
          // accepted again UNLESS a live dup of the same text remains
          ghosts.headOption.foreach { case (_, t) =>
            val sv = GraftOps.dedupNearAgainstCorpus(
                Seq(900002L -> t).toDF("doc_id", "text"),
                "doc_id", "text", dir)
              .collect().map(_.getLong(0)).toSet
            val expect = if (model.values.exists(_ == t)) Set.empty[Long]
              else Set(900002L)
            assert(sv === expect,
              s"op $op: ghost content must gate iff a live dup holds it")
          }
      }
      assert(docsNow() === model.keySet ++ ghosts.keySet,
        s"op $op: the raw docs table holds live + unfolded-ghost ids " +
          "(merge-on-read: retraction is logical until the compact)")
    }
    // the watermark's replay base survived every random vacuum
    val snap = IndexStore.resolve(s, dir).get
    snap.props.get("last_batch_base").foreach { base =>
      assert(IndexStore.resolveAt(s, dir, base.toInt).isDefined,
        "the replay-base manifest must survive arbitrary vacuum timing")
    }
  }

  test("indexVacuum keepVersions: a reader pinned two versions back " +
    "survives keepVersions = 3 and fails loudly under the default 1; " +
    "the latest snapshot is untouched either way") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_keep_").toString
    GraftOps.fingerprintBuild(
      Seq(0L -> "alpha beta gamma").toDF("doc_id", "text"),
      "doc_id", "text", dir) // v1
    GraftOps.fingerprintCompact(s, dir) // v2 owns every table
    val pinned = IndexStore.resolve(s, dir).get // a reader holds v2
    GraftOps.fingerprintCompact(s, dir) // v3
    GraftOps.fingerprintCompact(s, dir) // v4 — the reader is now 2 back
    GraftOps.indexVacuum(s, dir, keepVersions = 3)
    assert(IndexStore.readTable(s, dir, pinned, "docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(0L),
      "a reader inside the keepVersions horizon keeps reading its snapshot")
    GraftOps.indexVacuum(s, dir)
    intercept[Exception] {
      IndexStore.readTable(s, dir, pinned, "docs").collect()
    } // outside the horizon: loud, at read time
    assert(IndexStore.readTable(s, dir, IndexStore.resolve(s, dir).get,
      "docs").count() === 1L, "the latest snapshot is never touched")
    intercept[IllegalArgumentException] {
      GraftOps.indexVacuum(s, dir, keepVersions = 0)
    }
  }

  test("commitWithRetry: two writers racing the same version both " +
    "publish with no external recovery — the loser backs off and " +
    "recommits against the winner's snapshot") {
    val s = spark
    import s.implicits._
    import graft.api.IndexStore
    val dir = java.nio.file.Files.createTempDirectory("graft_cwr_").toString
    IndexStore.commit(s, dir, "seed") { (_, v) =>
      Seq(0L).toDF("id").write.parquet(s"$dir/$v/rows")
      (Map("rows" -> Seq(v)), Map.empty[String, String])
    }
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val gate = new CountDownLatch(1)
      val futures = (1 to 2).map { t =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            gate.await()
            IndexStore.commitWithRetry(s, dir, s"writer$t") { (base, v) =>
              Seq(t * 100L).toDF("id").write.parquet(s"$dir/$v/rows")
              (base.get.tables + ("rows" -> (base.get.tables("rows") :+ v)),
                Map.empty[String, String])
            }.version
          }
        })
      }
      gate.countDown()
      val versions = futures.map(_.get(120, TimeUnit.SECONDS)).sorted
      assert(versions === Seq(2, 3),
        "both writers publish, in claim order, with no external recovery")
    } finally pool.shutdown()
    val snap = IndexStore.resolve(s, dir).get
    assert(snap.version === 3)
    assert(IndexStore.readTable(s, dir, snap, "rows")
        .collect().map(_.getLong(0)).toSet === Set(0L, 100L, 200L),
      "no row lost or duplicated: each commit chained off its predecessor")
  }

  test("pack-index append race: two concurrent appends both publish — " +
    "the loser rebases on the winner's offsets INSIDE its retried " +
    "commit, so all token intervals tile every shard stream exactly") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_packrace_")
      .toString
    val hist = (0L until 20L).map(i => (i, 5L))
    GraftOps.packIndexBuild(hist.toDF("id", "nt"), "id", "nt", dir,
      seqLen = 8, nShards = 2)
    val batches = Map(1 -> (100L until 110L).map(i => (i, 3L)),
      2 -> (200L until 210L).map(i => (i, 4L)))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val layouts = try {
      val gate = new CountDownLatch(1)
      val futures = (1 to 2).map { t =>
        pool.submit(new java.util.concurrent.Callable[
            Array[(Long, Int, Long, Long)]] {
          def call(): Array[(Long, Int, Long, Long)] = {
            gate.await()
            GraftOps.packIndexAppend(batches(t).toDF("id", "nt"), "id",
                "nt", dir)
              .select("id", "shard", "pack_off", "nt").collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
                r.getLong(3)))
          }
        })
      }
      gate.countDown()
      futures.map(_.get(180, TimeUnit.SECONDS))
    } finally pool.shutdown()
    val histLaid = GraftOps.packSequences(hist.toDF("id", "nt"), "id",
        "nt", 8, 2)
      .select("id", "shard", "pack_off", "nt").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val all = histLaid ++ layouts(0) ++ layouts(1)
    // whichever writer won, the three layouts' token intervals must
    // tile each shard stream [0, shard total) with no gap or overlap
    all.groupBy(_._2).foreach { case (sh, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.head._3 === 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._3 + a._4,
          s"shard $sh: interval gap/overlap at ${b._1}")
        case _ =>
      }
      val total = sorted.map(_._4).sum
      assert(sorted.last._3 + sorted.last._4 === total)
    }
    // and the committed offsets are exactly the union totals
    val snap = IndexStore.resolve(s, dir).get
    val offs = IndexStore.readTable(s, dir, snap, "offsets").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val wantOffs = all.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(offs === wantOffs)
  }

  test("band-index empty append: a routine empty micro-batch is a no-op " +
    "for both band families — no version churn, no empty segments " +
    "(ivfAppend's stance)") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    graft.GraftExtensions.register(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_mt_").toString
    GraftOps.fingerprintBuild(
      Seq(0L -> "alpha beta gamma").toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val ver = IndexStore.resolve(s, dir).get.version
    GraftOps.fingerprintAppend(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(IndexStore.resolve(s, dir).get.version === ver,
      "an empty fingerprint append publishes nothing")
    assert(GraftOps.dedupNearAgainstCorpus(
        Seq(9L -> "alpha beta gamma").toDF("doc_id", "text"),
        "doc_id", "text", dir).collect().isEmpty,
      "the index stays fully readable")
    val srp = java.nio.file.Files.createTempDirectory("graft_mts_").toString
    GraftOps.srpIndexBuild(
      Seq(0L -> Array(1f, 0f, 0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", srp, dim = 3)
    val sver = IndexStore.resolve(s, srp).get.version
    GraftOps.srpIndexAppend(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", srp)
    assert(IndexStore.resolve(s, srp).get.version === sver,
      "an empty SRP append publishes nothing")
  }

  test("describeIndex: segment counts track appends and reset on " +
    "compact; the watermark props ride every row") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_desc_").toString
    GraftOps.fingerprintBuild(
      Seq(0L -> "alpha beta gamma").toDF("doc_id", "text"),
      "doc_id", "text", dir)
    CurationPipeline.curateIncremental(
      Seq(10L -> "one two three four five").toDF("doc_id", "text"),
      "doc_id", "text", dir, maxTopWordRatio = 0.3, batchId = Some(7L))
    val d1 = GraftOps.describeIndex(s, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(d1.keySet === Set("docs", "bands"))
    assert(d1("docs").getInt(1) === 2, "build + one append = two segments")
    assert(d1("docs").getLong(2) === 2L)
    assert(d1("docs").getString(4) === "7" &&
      d1("docs").getString(5) === "1", "watermark props ride the rows")
    GraftOps.fingerprintCompact(s, dir)
    val d2 = GraftOps.describeIndex(s, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(d2("docs").getInt(1) === 1, "compact resets the segment count")
    assert(d2("docs").getLong(2) === 2L, "rows unchanged")
    assert(d2("docs").getString(4) === "7", "compact carries the watermark")
    intercept[IllegalArgumentException] {
      GraftOps.describeIndex(s,
        java.nio.file.Files.createTempDirectory("graft_desc2_").toString)
    }
  }

  test("minhash duplicate-id guard still fires from the folded " +
    "single-aggregation form: same-text and different-text duplicate " +
    "ids both fail loudly at build") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    def deep(e: Throwable): String = Option(e.getCause)
      .map(c => e.getMessage + deep(c)).getOrElse(e.getMessage)
    val e = intercept[Exception] {
      GraftOps.fingerprintBuild(
        Seq(1L -> "alpha beta", 1L -> "gamma delta", 2L -> "epsilon zeta")
          .toDF("doc_id", "text"), "doc_id", "text",
        java.nio.file.Files.createTempDirectory("graft_dup_").toString)
    }
    assert(deep(e).contains("duplicate doc id"))
    val e2 = intercept[Exception] {
      GraftOps.fingerprintBuild(
        Seq(3L -> "same words here", 3L -> "same words here")
          .toDF("doc_id", "text"), "doc_id", "text",
        java.nio.file.Files.createTempDirectory("graft_dup2_").toString)
    }
    assert(deep(e2).contains("duplicate doc id"),
      "identical-text duplicates (equal token sets) are caught too")
  }

  test("index edge cases: an empty ivfAppend batch is a no-op (a fileless " +
    "partitioned segment would brick the index); crashed-writer DATA " +
    "residue is cleared by the next claim of that version") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, IndexStore}
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, fx)
    val ivf = java.nio.file.Files.createTempDirectory("graft_edge_").toString
    GraftOps.ivfBuild(emb, "vec_id", "embedding", ivf, nLists = 2,
      lloydIters = 2)
    val ver = IndexStore.resolve(s, ivf).get.version
    def hits() = GraftOps.ivfSearch(emb, "vec_id", "embedding", ivf,
      k = 1, nProbe = 2, excludeSelf = false).count()
    val before = hits()
    // empty append: no commit, no segment, index stays readable
    GraftOps.ivfAppend(emb.filter(col("vec_id") < 0), "vec_id", "embedding",
      ivf)
    assert(IndexStore.resolve(s, ivf).get.version === ver,
      "empty append must publish nothing")
    assert(hits() === before)
    // an empty BUILD fails loudly before claiming anything
    val e = intercept[IllegalArgumentException] {
      GraftOps.ivfBuild(emb.filter(col("vec_id") < 0), "vec_id",
        "embedding", java.nio.file.Files.createTempDirectory("graft_e_")
          .toString, nLists = 2)
    }
    assert(e.getMessage.contains("empty corpus"))
    // crashed writer: CLAIM residue plus a partial DATA dir at the next
    // version; after the operator clears the claim, the next append must
    // clear the orphan dir and succeed (not die on 'path already exists')
    val vnext = f"v${ver + 1}%05d"
    val fs = new org.apache.hadoop.fs.Path(ivf).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$ivf/_manifests/$vnext.CLAIM"), false).close()
    emb.limit(1).select(col("vec_id").as("vid"), col("embedding").as("cemb"))
      .write.parquet(s"$ivf/$vnext/corpus") // wrong-schema partial residue
    intercept[graft.api.ConcurrentIndexWriteException] {
      GraftOps.ivfAppend(emb.limit(1), "vec_id", "embedding", ivf)
    }
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$ivf/_manifests/$vnext.CLAIM"), false)
    GraftOps.ivfAppend(
      Seq(999L -> Array(0.5f, 0.5f, 0.5f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", ivf)
    assert(IndexStore.resolve(s, ivf).get.version === ver + 1)
    assert(GraftOps.ivfSearch(
        Seq(999L -> Array(0.5f, 0.5f, 0.5f)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", ivf, k = 1, nProbe = 2, excludeSelf = false)
      .select("vid").head.getLong(0) === 999L,
      "the re-claimed version serves reads: the appended vector is found")
  }

  test("dedupNearAgainstCorpus maxBucketSize: hot template buckets stop " +
    "matching (the documented trade), everything below the cap is " +
    "untouched vs the default") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // a 4-doc identical "template" group (every band bucket occupancy 4)
    // plus a normal near-dup pair and a singleton
    val corpus = Seq(0L -> "template boiler plate text",
      1L -> "genuine article words here five six")
      .toDF("doc_id", "text")
    val batch = Seq(
      10L -> "template boiler plate text", 11L -> "template boiler plate text",
      12L -> "template boiler plate text", // template group, occupancy 4
      13L -> "genuine article words here five six", // dup of 1 (occupancy 2)
      14L -> "lone unique document").toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_hot_").toString
    GraftOps.fingerprintBuild(corpus, "doc_id", "text", dir)
    def run(cap: Option[Int]) = GraftOps.dedupNearAgainstCorpus(
        batch, "doc_id", "text", dir, 80, cap)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(run(None) === Set(14L), "default: template copies + dup all drop")
    // cap=3 < the template's occupancy 4: its every bucket is hot, so the
    // template copies escape — the explicit trade; the occupancy-2 pair
    // (13 vs 1) still drops, untouched by the guard
    assert(run(Some(3)) === Set(10L, 11L, 12L, 14L))
    // at cap=4 (exactly the occupancy) nothing is hot — identical to default
    assert(run(Some(4)) === run(None))
  }

  test("curateIncremental: gate → near-dedup vs history → index append " +
    "composes across monotone batches; gate-failed docs are never indexed") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps}
    def mk(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val corpus = Seq(0L -> "alpha beta gamma delta epsilon")
    val b1 = Seq(
      10L -> "alpha beta gamma delta epsilon", // exact dup of history → drop
      11L -> "spam spam spam spam", // gate-fail → not emitted, NOT indexed
      12L -> "one two three four five six seven") // novel → survive
    val b2 = Seq(
      20L -> "one two three four five six seven", // dups 12 (now history)
      21L -> "spam spam spam spam", // gate-fails again (never a dedup hit)
      22L -> "totally new words here indeed") // novel → survive
    def run(batches: Seq[Seq[(Long, String)]]): (Set[Long], String) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ci_").toString
      GraftOps.fingerprintBuild(mk(corpus), "doc_id", "text", dir)
      val got = batches.flatMap { b =>
        CurationPipeline.curateIncremental(mk(b), "doc_id", "text", dir,
          maxTopWordRatio = 0.3).collect().map(_.getLong(0))
      }.toSet
      (got, dir)
    }
    val (twoStep, dirA) = run(Seq(b1, b2))
    val (oneShot, _) = run(Seq(b1 ++ b2))
    assert(twoStep === oneShot, "batch-at-a-time must equal one-shot")
    assert(twoStep === Set(12L, 22L))
    // the index holds corpus + every GATED batch doc (dropped near-dups
    // included, per the composition contract) and no gate-failed garbage
    val indexed = graft.api.IndexStore.readTable(spark, dirA,
        graft.api.IndexStore.resolve(spark, dirA).get, "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed === Set(0L, 10L, 12L, 20L, 22L))
  }

  test("docComponents memo: bounded LRU — a 5th corpus evicts the oldest " +
    "entry, eviction and clear() unpersist the checkpoint blocks") {
    val s = spark
    import s.implicits._
    TextOps.docCompClear()
    val dirs = (0 until 5).map { i =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_memo${i}_")
        .toString
      Seq((0L, s"alpha beta gamma delta v$i", "en", "s", 22L),
          (1L, s"alpha beta gamma zeta v$i", "en", "s", 21L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // q88 is a memo consumer; five distinct corpora through the map,
    // each corpus holding TWO entries (pairs + components) in the
    // 8-entry (= 4-corpus) bound
    dirs.take(4).foreach(d => TextOps.q88(s, d).collect())
    assert(TextOps.docCompCache.size === 8)
    // the about-to-be-evicted entry's checkpoint RDD is persisted now...
    val eldestRddIds = TextOps.docCompCache.synchronized {
      TextOps.docCompCache.values.iterator.next()
        .queryExecution.analyzed.collectLeaves().collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        }
    }
    assert(eldestRddIds.forall(s.sparkContext.getPersistentRDDs.contains),
      "a live memo entry must hold persisted checkpoint blocks")
    TextOps.q88(s, dirs(4)).collect()
    assert(TextOps.docCompCache.size === TextOps.DocCompCacheMax,
      "the memo must never exceed its bound")
    assert(!TextOps.docCompCache.containsKey((s, dirs.head)),
      "LRU: the oldest corpus is the one evicted")
    assert(dirs.tail.forall(d => TextOps.docCompCache.containsKey((s, d))))
    // ...and eviction released them (unpersist is blocking)
    assert(eldestRddIds.forall(id =>
      !s.sparkContext.getPersistentRDDs.contains(id)),
      "eviction must unpersist the evicted entry's checkpoint blocks")
    // clear() releases everything it still holds
    val liveIds = TextOps.docCompCache.synchronized {
      TextOps.docCompCache.values.asScala.flatMap(
        _.queryExecution.analyzed.collectLeaves().collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        }).toSeq
    }
    TextOps.docCompClear()
    assert(TextOps.docCompCache.isEmpty)
    assert(liveIds.forall(id => !s.sparkContext.getPersistentRDDs.contains(id)),
      "clear() must unpersist every cached entry's checkpoint blocks")
  }

  test("q134 heavy hitters: two-pass ≡ exact top-k end-to-end, the " +
    "sketch undercounts within its line, and null keys are loud") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // counts: a=5, b=3, c=2, d=1, e=1 (N=12). capacity=6 puts the MG
    // line at 12/7 ≈ 1.71, so every top-3 count (5, 3, 2) clears it —
    // the two-pass guarantee's precondition holds by construction
    val toks = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") ++
      Seq("d", "e")).toDF("tok").repartition(3)
    val exact = GraftOps.heavyHitters(toks, "tok", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(exact.toSeq === Seq(("a", 5L, 1), ("b", 3L, 2), ("c", 2L, 3)))
    val two = GraftOps.heavyHittersTwoPass(toks, "tok", 3, capacity = 6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(two.toSeq === exact.toSeq,
      "MG coverage keeps every key above N/(cap+1), so the re-count " +
        "must reproduce the exact ranking")
    // the one-pass summary: undercount-only within N/(cap+1), and at
    // cap ≥ distinct it IS the exact frequency table
    val est = GraftOps.heavyHittersSketch(toks, "tok", capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est === Map("a" -> 5L, "b" -> 3L, "c" -> 2L, "d" -> 1L,
      "e" -> 1L), "capacity ≥ |vocab| holds every counter exactly")
    val tight = GraftOps.heavyHittersSketch(toks, "tok", capacity = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(tight.keySet.subsetOf(Set("a", "b", "c", "d", "e")) &&
      tight.size <= 2 && tight.getOrElse("a", 0L) <= 5L &&
      5L - tight.getOrElse("a", 0L) <= 4L,
      "the most frequent key survives a cap-2 summary within the line")
    // null keys fail the job loudly on both paths
    val withNull = (Seq(Some("x"), None, Some("y")))
      .toDF("tok")
    intercept[Exception] { GraftOps.heavyHitters(withNull, "tok", 2).collect() }
    intercept[Exception] {
      GraftOps.heavyHittersSketch(withNull, "tok", 4).collect()
    }
  }

  test("heavyHittersTwoPass ranks count ties by the column's NATIVE " +
    "order (the stringified sketch domain only filters)") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // int keys 9 and 10 tie at 2; string order would flip them
    // ("10" < "9") — the two-pass rank must match heavyHitters' native
    // int order: 9 before 10
    val keys = (Seq.fill(3)(7) ++ Seq.fill(2)(9) ++ Seq.fill(2)(10))
      .toDF("k").repartition(3)
    val two = GraftOps.heavyHittersTwoPass(keys, "k", 3, capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(two.toSeq === Seq(("7", 3L, 1), ("9", 2L, 2), ("10", 2L, 3)))
  }

  test("q137 bm25 persisted index: binding ≡ the one-shot q135 " +
    "row-for-row, retract drops a doc from ranking and df/N, and the " +
    "guards are loud") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // the law, end-to-end on the fixture corpus: build(80%) + append(20%)
    // nets to the full table, so the persisted-index binding must equal
    // the one-shot binding exactly (scores are 4dp-rounded on both paths)
    val one = TextOps.q135(s, SparkTestBase.fixtureDir).collect().toSeq
    val idx = TextOps.q137(s, SparkTestBase.fixtureDir).collect().toSeq
    assert(idx === one, "bm25AgainstCorpus(Q | index) must equal " +
      "bm25TopK(C, Q) over the net corpus")
    // retraction: after retracting a doc it stops ranking AND stops
    // counting toward df/N/avgdl — probe ≡ one-shot over the survivors
    val docs = Seq((1L, "x y z"), (2L, "x y w"), (3L, "p q r"))
      .toDF("id", "txt")
    val dir = Tables.scratchDir("graft_bm25retract_")
    GraftOps.bm25IndexBuild(docs, "id", "txt", dir, nBuckets = 4)
    GraftOps.bm25IndexRetract(docs.filter(col("id") === 2L), "id", "txt",
      dir)
    val qs = Seq((0L, Seq("x", "y"))).toDF("qid", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val got = rows(GraftOps.bm25AgainstCorpus(qs, "qid", "terms", dir,
      k = 3))
    assert(got.map(_._3) === Seq(1L), "retracted doc 2 must stop ranking")
    assert(got === rows(GraftOps.bm25TopK(
      docs.filter(col("id") =!= 2L), "id", "txt", qs, "qid", "terms",
      k = 3)), "post-retract probe ≡ one-shot over survivors")
    // compact folds the negative segment away; answers unchanged
    GraftOps.bm25IndexCompact(s, dir)
    assert(rows(GraftOps.bm25AgainstCorpus(qs, "qid", "terms", dir,
      k = 3)) === got)
    // guards: empty one-shot corpus; probe of a fully-retracted index;
    // probe/append of a missing index
    val empty = Seq.empty[(Long, String)].toDF("id", "txt")
    val e1 = intercept[IllegalArgumentException] {
      GraftOps.bm25TopK(empty, "id", "txt", qs, "qid", "terms", k = 1)
    }
    assert(e1.getMessage.contains("empty document corpus"))
    GraftOps.bm25IndexRetract(docs.filter(col("id") =!= 2L), "id", "txt",
      dir)
    val e2 = intercept[IllegalArgumentException] {
      GraftOps.bm25AgainstCorpus(qs, "qid", "terms", dir, k = 1)
    }
    assert(e2.getMessage.contains("no live documents"))
    val e3 = intercept[IllegalArgumentException] {
      GraftOps.bm25AgainstCorpus(qs, "qid", "terms",
        Tables.scratchDir("graft_bm25missing_"), k = 1)
    }
    assert(e3.getMessage.contains("no index at"))
    // empty append is a no-op: no version churn
    val v0 = graft.api.IndexStore.resolve(s, dir).get.version
    GraftOps.bm25IndexAppend(empty, "id", "txt", dir)
    assert(graft.api.IndexStore.resolve(s, dir).get.version === v0)
  }

  test("bm25 index: a duplicate live-id append (the contract violation " +
    "that would double dl) fails loudly at compact instead of baking in") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val docs = Seq((1L, "x y"), (2L, "x z")).toDF("id", "txt")
    val dir = Tables.scratchDir("graft_bm25dup_")
    GraftOps.bm25IndexBuild(docs, "id", "txt", dir, nBuckets = 4)
    // re-append doc 1 while live — a replayed batch
    GraftOps.bm25IndexAppend(docs.filter(col("id") === 1L), "id", "txt",
      dir)
    val e = intercept[Exception] {
      GraftOps.bm25IndexCompact(s, dir)
    }
    assert(e.getMessage.contains("appended more than once"),
      s"compact must name the duplicate-append violation: ${e.getMessage}")
    // the legal sequence — retract, then re-append — compacts fine and
    // the probe still equals the one-shot
    val dir2 = Tables.scratchDir("graft_bm25dup2_")
    GraftOps.bm25IndexBuild(docs, "id", "txt", dir2, nBuckets = 4)
    GraftOps.bm25IndexRetract(docs.filter(col("id") === 1L), "id", "txt",
      dir2)
    GraftOps.bm25IndexAppend(docs.filter(col("id") === 1L), "id", "txt",
      dir2)
    GraftOps.bm25IndexCompact(s, dir2)
    val qs = Seq((0L, Seq("x"))).toDF("qid", "terms")
    assert(
      GraftOps.bm25AgainstCorpus(qs, "qid", "terms", dir2, k = 2).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3))).toSeq ===
        GraftOps.bm25TopK(docs, "id", "txt", qs, "qid", "terms", k = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3))).toSeq,
      "retract + re-append + compact must preserve probe ≡ one-shot")
  }

  test("bm25 per-doc digest sidecar: the same-length DISJOINT-term " +
    "re-append (the r16 documented blind spot) and a mismatched " +
    "retract now fail loudly at compact; a retract+re-append with " +
    "disjoint terms still compacts clean") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // the formerly-invisible shape: doc 1 re-appended while live with
    // the SAME length (2 tokens) and fully DISJOINT terms — every net
    // (term, did) count is 1 and every live dl agrees, so the postings
    // checks structurally cannot see it; the sidecar's two live
    // digests for doc 1 can
    val dir = Tables.scratchDir("graft_bm25sc_")
    GraftOps.bm25IndexBuild(Seq((1L, "x y"), (2L, "x z"))
      .toDF("id", "txt"), "id", "txt", dir, nBuckets = 4)
    GraftOps.bm25IndexAppend(Seq((1L, "p q")).toDF("id", "txt"),
      "id", "txt", dir)
    val e = intercept[Exception] { GraftOps.bm25IndexCompact(s, dir) }
    assert(e.getMessage.contains("two distinct contents"),
      s"compact must name the disjoint-term re-append: ${e.getMessage}")
    // a retract whose text never matched an append (disjoint terms,
    // same length — the postings layer filters its negative rows away
    // silently) is loud too
    val dir2 = Tables.scratchDir("graft_bm25sc2_")
    GraftOps.bm25IndexBuild(Seq((1L, "x y")).toDF("id", "txt"),
      "id", "txt", dir2, nBuckets = 4)
    GraftOps.bm25IndexRetract(Seq((1L, "p q")).toDF("id", "txt"),
      "id", "txt", dir2)
    val e2 = intercept[Exception] { GraftOps.bm25IndexCompact(s, dir2) }
    assert(e2.getMessage.contains("never matched an append"),
      s"compact must name the mismatched retract: ${e2.getMessage}")
    // the LEGAL disjoint-term content change — retract the old text,
    // append the new — compacts clean and the probe law still holds,
    // including through a SECOND compact (the folded sidecar must
    // survive its own rewrite)
    val dir3 = Tables.scratchDir("graft_bm25sc3_")
    val v2 = Seq((1L, "p q"), (2L, "x z")).toDF("id", "txt")
    GraftOps.bm25IndexBuild(Seq((1L, "x y"), (2L, "x z"))
      .toDF("id", "txt"), "id", "txt", dir3, nBuckets = 4)
    GraftOps.bm25IndexRetract(Seq((1L, "x y")).toDF("id", "txt"),
      "id", "txt", dir3)
    GraftOps.bm25IndexAppend(Seq((1L, "p q")).toDF("id", "txt"),
      "id", "txt", dir3)
    GraftOps.bm25IndexCompact(s, dir3)
    GraftOps.bm25IndexCompact(s, dir3)
    val qs = Seq((0L, Seq("p")), (1L, Seq("x"))).toDF("qid", "terms")
    assert(
      GraftOps.bm25AgainstCorpus(qs, "qid", "terms", dir3, k = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3))).toSeq ===
        GraftOps.bm25TopK(v2, "id", "txt", qs, "qid", "terms", k = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getDouble(3))).toSeq,
      "disjoint-term retract + re-append + 2× compact must preserve " +
        "probe ≡ one-shot")
  }

  test("q144 quality classifier: a separable corpus separates (reference-" +
    "vocabulary docs outscore crawl-vocabulary docs, a threshold splits " +
    "them exactly), unseen text scores near the bias, and the guards " +
    "are loud") {
    val s = spark
    import s.implicits._
    import graft.api.TextAnalysis
    // two disjoint vocabularies: the model must learn to separate them
    val refDocs = (0L until 8L).map(i =>
      (i, s"good clean prose item$i sentence", 1))
    val crawlDocs = (10L until 18L).map(i =>
      (i, s"spam junk noise blob$i click", 0))
    val docs = (refDocs ++ crawlDocs).toDF("doc_id", "text", "label")
    val model = TextAnalysis.trainQualityClassifier(docs, "doc_id",
      "text", "label", numFeatures = 64, iters = 40, lr = 1.0)
    val scores = TextAnalysis.qualityScore(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val refMin = refDocs.map(d => scores(d._1)).min
    val crawlMax = crawlDocs.map(d => scores(d._1)).max
    assert(refMin > crawlMax,
      s"the classes must separate (ref min $refMin vs crawl max $crawlMax)")
    assert(refMin > 0.5 && crawlMax < 0.5,
      "0.5 splits a balanced separable corpus")
    // wholly unseen vocabulary: every feature weight is 0, so the score
    // is the bias alone — near 0.5 on a balanced corpus
    val unseen = TextAnalysis.qualityScore(
      Seq((99L, "zz yy xx ww")).toDF("doc_id", "text"), "doc_id",
      "text", model).head().getDouble(1)
    assert(math.abs(unseen - 0.5) < 0.2,
      s"unseen text must score near the bias ($unseen)")
    // model table carries the FULL bucket range (sparse would re-hash)
    assert(model.count() === 65L, "bias + every bucket, zero weights kept")
    val e1 = intercept[Exception] {
      TextAnalysis.trainQualityClassifier(
        Seq((1L, "a", null.asInstanceOf[Integer])).toDF(
          "doc_id", "text", "label"),
        "doc_id", "text", "label", numFeatures = 8, iters = 1).collect()
    }
    assert(e1.getMessage.contains("null label"))
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.trainQualityClassifier(
        Seq.empty[(Long, String, Int)].toDF("doc_id", "text", "label"),
        "doc_id", "text", "label", numFeatures = 8, iters = 1)
    }
    assert(e2.getMessage.contains("empty corpus"))
  }

  test("curateIncremental lmStatsDir: the fluency gate composes (gate-" +
    "then-step ≡ composed), NULL-ppl short docs pass, and the store is " +
    "read-only (no version churn from a step)") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps, IndexStore}
    val ref = Seq("aa bb cc dd aa bb cc dd").toDF("txt")
    val ld = java.nio.file.Files.createTempDirectory("graft_cl_lm_")
      .toString
    GraftOps.lmStatsBuild(ref, "txt", ld, nBuckets = 4)
    val batch = Seq(
      30L -> "aa bb cc dd aa bb", // reference-fluent → passes
      31L -> "zz qq rr ss tt uu", // OOV spam → high ppl, drops
      32L -> "solo").toDF("doc_id", "text") // 1 token: NULL ppl → passes
    val scores = GraftOps.lmPerplexityAgainstStats(batch, "doc_id",
        "text", ld)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(scores(32L).isEmpty && scores(30L).get < scores(31L).get)
    val thr = (scores(30L).get + scores(31L).get) / 2
    def mkFp(): String = {
      val f = java.nio.file.Files.createTempDirectory("graft_cl_f_")
        .toString
      GraftOps.fingerprintBuild(
        Seq(0L -> "unrelated seed words here").toDF("doc_id", "text"),
        "doc_id", "text", f)
      f
    }
    val v0 = IndexStore.resolve(s, ld).get.version
    val fComp = mkFp()
    val got = CurationPipeline.curateIncremental(batch, "doc_id", "text",
        fComp, maxDupWordFrac = 1.0, maxTopWordRatio = 1.0,
        maxDupBigramFrac = 1.0,
        lmStatsDir = Some(ld), maxPpl = thr)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(30L, 32L),
      s"the fluency gate must drop exactly the OOV doc: $got")
    val fPlain = mkFp()
    val want = CurationPipeline.curateIncremental(
        batch.filter(col("doc_id") =!= 31L), "doc_id", "text", fPlain,
        maxDupWordFrac = 1.0, maxTopWordRatio = 1.0,
        maxDupBigramFrac = 1.0)
      .collect().map(_.getLong(0)).toSet
    assert(got === want, "composed ≡ gate-then-un-composed")
    assert(IndexStore.resolve(s, ld).get.version === v0,
      "the reference store is read-only under the step")
  }

  test("curateIncremental qualityModel: the learned gate composes (gate-" +
    "then-step ≡ composed) and drops the crawl-class doc") {
    val s = spark
    import s.implicits._
    import graft.api.{CurationPipeline, GraftOps, TextAnalysis}
    // the model trains offline on labeled data, then gates arrivals
    val labeled = (
      (0L until 6L).map(i => (i, s"good clean prose item$i text", 1)) ++
      (10L until 16L).map(i => (i, s"spam junk noise blob$i click", 0)))
      .toDF("doc_id", "text", "label")
    val model = TextAnalysis.trainQualityClassifier(labeled, "doc_id",
      "text", "label", numFeatures = 64, iters = 40, lr = 1.0)
      .localCheckpoint(true)
    val batch = Seq(
      30L -> "good clean prose fresh text",
      31L -> "spam junk noise fresh click").toDF("doc_id", "text")
    val sc = TextAnalysis.qualityScore(batch, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sc(30L) > 0.5 && sc(31L) < 0.5,
      s"the learned boundary must transfer to fresh docs ($sc)")
    def mkFp(): String = {
      val f = java.nio.file.Files.createTempDirectory("graft_cq_f_")
        .toString
      GraftOps.fingerprintBuild(
        Seq(0L -> "unrelated seed words here").toDF("doc_id", "text"),
        "doc_id", "text", f)
      f
    }
    val got = CurationPipeline.curateIncremental(batch, "doc_id", "text",
        mkFp(), maxDupWordFrac = 1.0, maxTopWordRatio = 1.0,
        maxDupBigramFrac = 1.0,
        qualityModel = Some(model), minQuality = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(30L), s"the learned gate must drop the crawl doc: $got")
    val want = CurationPipeline.curateIncremental(
        batch.filter(col("doc_id") === 30L), "doc_id", "text", mkFp(),
        maxDupWordFrac = 1.0, maxTopWordRatio = 1.0,
        maxDupBigramFrac = 1.0)
      .collect().map(_.getLong(0)).toSet
    assert(got === want, "composed ≡ gate-then-un-composed")
  }

  test("q143 lm stats store: binding ≡ the one-shot q139 row-for-row, " +
    "retraction makes the removed reference stop lending fluency, and " +
    "the guards are loud") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // binding ≡ one-shot on the same parquet-backed tables
    val dir0 = java.nio.file.Files.createTempDirectory("graft_q143_sf_")
      .toString
    (0L until 30L).map(i => (i,
      (0 until 6).map(j => s"w${(i * 3 + j) % 9}").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir0/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getInt(2))).toSeq
    assert(rows(TextOps.q143(s, dir0)) === rows(TextOps.q139(s, dir0)),
      "q143 (build 80% + append 20%, probe) must equal the one-shot q139")
    // forget cycle: a doc fluent only under reference B scores LOW
    // while B is in the store, HIGH after B retracts; compact folds
    val refA = Seq("p q r p q r").toDF("txt")
    val refB = Seq("x y z x y z").toDF("txt")
    val dir = Tables.scratchDir("graft_lmstats_")
    GraftOps.lmStatsBuild(refA, "txt", dir, nBuckets = 4)
    GraftOps.lmStatsAppend(refB, "txt", dir)
    val probe = Seq((1L, "x y z x y")).toDF("id", "txt")
    def ppl(): Double = GraftOps.lmPerplexityAgainstStats(
      probe, "id", "txt", dir).head().getDouble(1)
    val withB = ppl()
    GraftOps.lmStatsRetract(refB, "txt", dir)
    val withoutB = ppl()
    assert(withoutB > withB,
      s"retracting the fluency-lending reference must raise ppl " +
        s"($withB -> $withoutB)")
    assert(withoutB === GraftOps.lmPerplexity(probe, "id", "txt",
        refA, "txt").head().getDouble(1),
      "post-retract probe ≡ one-shot over the surviving reference")
    GraftOps.lmStatsCompact(s, dir)
    assert(ppl() === withoutB, "compact changes nothing")
    assert(graft.api.IndexStore.resolve(s, dir).get
      .tables("uni_counts").size === 1, "compact folds to one segment")
    // guards: fully-retracted store; missing index; empty append no-op
    GraftOps.lmStatsRetract(refA, "txt", dir)
    val e1 = intercept[IllegalArgumentException] { ppl() }
    assert(e1.getMessage.contains("no live reference tokens"))
    val e2 = intercept[IllegalArgumentException] {
      GraftOps.lmPerplexityAgainstStats(probe, "id", "txt",
        Tables.scratchDir("graft_lmmissing_"))
    }
    assert(e2.getMessage.contains("no index at"))
    val v0 = graft.api.IndexStore.resolve(s, dir).get.version
    GraftOps.lmStatsAppend(Seq.empty[Tuple1[String]].toDF("txt"), "txt",
      dir)
    assert(graft.api.IndexStore.resolve(s, dir).get.version === v0)
  }

  test("lmPerplexity: an empty reference corpus is refused loudly (V = 0 " +
    "would make every doc score ppl 0.0 — maximally fluent — and a low-" +
    "ppl gate would pass everything)") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val emptyRef = Seq.empty[Tuple1[String]].toDF("text")
    val e = intercept[IllegalArgumentException] {
      GraftOps.lmPerplexity(docs, "doc_id", "text", emptyRef, "text")
        .collect()
    }
    assert(e.getMessage.contains("empty reference corpus"))
  }

  test("q142 hybrid persisted: the binding builds both index substrates " +
    "and the fused probe is a well-formed per-query ranking (the both-" +
    "member composition law itself is IndexLifecycle step 9)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q142_sf_")
      .toString
    // a tiny but non-degenerate corpus: shared vocabulary across docs
    // so BM25 has real rankings, embeddings spread on the unit circle
    val docs = (0L until 20L).map { i =>
      val ws = (0 until 8).map(j => s"w${(i + j) % 12}").mkString(" ")
      (i, ws)
    }
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    (0L until 20L).map { i =>
      val a = i.toDouble / 20.0 * math.Pi
      (i, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = VectorOps.q142(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty, "the fused ranking must be non-empty")
    assert(out.map(_._1).toSet.subsetOf((0L until 10L).toSet),
      "queries are exactly the sub-10 ids")
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to rows.length).toSeq,
        s"qid $qid: rn must be contiguous from 1")
      assert(sorted.map(_._4).toSeq ===
        sorted.map(_._4).sortBy(-(_: Double)).toSeq,
        s"qid $qid: rrf scores must be non-increasing in rank")
      assert(rows.length <= 5, s"qid $qid: k = 5 cap")
    }
  }

  test("q138 dsir: the target-vocabulary doc outranks the disjoint one, " +
    "the binding is raw-only, and soft selection composes with " +
    "weightedSample") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    // doc 1 shares the target's unigrams AND bigram; doc 2 is disjoint
    val raw = Seq((1L, "alpha beta alpha"), (2L, "zz yy xx"))
      .toDF("doc_id", "text")
    val tgt = Seq("alpha beta gamma").toDF("text")
    val sc = GraftOps.dsirScores(raw, "doc_id", "text", tgt, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sc.keySet === Set(1L, 2L), "one score per raw doc")
    assert(sc(1L) > sc(2L),
      "shared target vocabulary must raise the importance ratio")
    val top = GraftOps.dsirSelect(raw, "doc_id", "text", tgt, "text",
      k = 1).collect()
    assert(top.map(_.getLong(0)).toSeq === Seq(1L) &&
      top.head.getInt(2) === 1)
    // the binding scores RAW docs only (one row per raw doc, none for
    // the target slice), on the fixture corpus
    val bound = TextOps.q138(s, SparkTestBase.fixtureDir).collect()
    val rawIds = spark.read
      .parquet(s"${SparkTestBase.fixtureDir}/documents.parquet")
      .filter(col("doc_id") % 7 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bound.map(_.getLong(0)).toSet === rawIds &&
      bound.map(_.getInt(2)).toSeq === (1 to rawIds.size))
    // soft selection (the paper's resample ∝ exp(score/τ)): the
    // documented weightedSample composition — deterministic, k rows,
    // ids from the raw pool, max-shifted so weights stay positive/finite
    val tau = 0.5
    val mx = sc.values.max
    val soft = GraftOps.weightedSample(
      GraftOps.dsirScores(raw, "doc_id", "text", tgt, "text")
        .withColumn("w", exp((col("score") - lit(mx)) / lit(tau))),
      "doc_id", "w", k = 1)
    val draw1 = soft.collect().map(_.getLong(0)).toSeq
    assert(draw1.size === 1 && rawIds.nonEmpty &&
      Set(1L, 2L).contains(draw1.head))
    assert(soft.collect().map(_.getLong(0)).toSeq === draw1,
      "the ES-clock draw is deterministic")
  }

  test("q139 lmPerplexity: reference-fluent text scores lower than " +
    "gibberish, short docs are NULL, and the CCNet tercile bucket " +
    "composes with quantileByRank") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    val ref = Seq("the cat sat on the mat", "the dog sat on the rug")
      .toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the rug"), // reference-like bigrams
      (2L, "zz qq ww ee rr tt"), // fully OOV
      (3L, "cat")) // one token: no bigram events
      .toDF("doc_id", "text")
    val got = GraftOps.lmPerplexity(docs, "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getInt(2)))
      .toMap
    assert(got.keySet === Set(1L, 2L, 3L), "one row per scored doc")
    assert(got(3L) === ((None, 0)), "sub-2-token docs have NULL ppl")
    assert(got(1L)._1.get < got(2L)._1.get,
      "in-distribution text must be less perplexing than OOV gibberish")
    assert(got(1L)._2 === 5 && got(2L)._2 === 5)
    // CCNet's head/middle/tail: per-stratum ppl terciles via q129's
    // exact rank-selection quantiles — the documented composition
    val scored = GraftOps.lmPerplexity(docs, "doc_id", "text", ref,
        "text").filter(col("ppl").isNotNull)
      .withColumn("lang", lit("en"))
    val cuts = GraftOps.quantileByRank(scored, "ppl", "lang",
        Seq(33, 67))
      .collect().map(_.getDouble(2)).toSeq
    assert(cuts.size === 2 &&
      cuts.forall(c => Seq(got(1L)._1.get, got(2L)._1.get).contains(c)),
      "tercile cuts are type-1 rank selections from the observed ppls")
  }

  test("q133 semDedupPairs: nClusters = 1 IS the exact baseline " +
    "(row-for-row), and any nClusters is a subset with equal cosines") {
    val s = spark
    graft.GraftExtensions.register(s)
    val emb = Tables.embeddings(s, fx)
    val exact = graft.api.GraftOps.embeddingNearDupPairs(emb, "vec_id",
        "embedding", minCosine = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val one = graft.api.GraftOps.semDedupPairs(emb, "vec_id", "embedding",
        minCosine = 0.35, nClusters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(one.toSeq === exact.toSeq,
      "a single cluster bounds nothing — the within-cluster join must " +
        "reproduce the tiled exact baseline exactly")
    // a real partition (nClusters = 4 over the 5-vector fixture): every
    // emitted pair carries the EXACT verified cosine, so precision is
    // 1.0 structurally — output ⊆ the exact pairs, cosines equal
    val part = graft.api.GraftOps.semDedupPairs(emb, "vec_id", "embedding",
        minCosine = 0.35, nClusters = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(part.toSet.subsetOf(exact.toSet),
      "a within-cluster pair must appear in the exact baseline with the " +
        "same 4dp cosine")
  }

  test("q133 semDedup: one survivor per semantic group — the member " +
    "LEAST similar to its centroid (ties to the smaller id), singletons " +
    "and zero-norm vectors untouched") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    // one k-means cell (nClusters = 1): centroid = mean of the unit
    // vectors = (0.9655, -0.0945, 0)/|·|. a-b pair at cos 8° = 0.9903
    // (the only pair at τ = 0.95; a-c = cos 25°, b-c = cos 33°).
    // ccos(a) = 0.9952, ccos(b) = 0.9720, ccos(c) = 0.9432 — so the
    // {a, b} group keeps b (LESS similar to the centroid than a, the
    // paper's diversity rule), not min-id a
    val emb = Seq(
      0L -> Array(1f, 0f, 0f),                     // a
      1L -> Array(0.990268f, 0.139173f, 0f),       // b = a rotated 8°
      2L -> Array(0.906308f, -0.422618f, 0f),      // c: paired with no one
      3L -> Array(0f, 0f, 0f))                     // zero-norm: no cosine
      .toDF("vec_id", "embedding")
    val out = graft.api.GraftOps.semDedup(emb, "vec_id", "embedding",
        minCosine = 0.95, nClusters = 1).collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getAs[Long]("cluster"), r.getAs[Long]("cluster_size"))).toMap
    assert(byId.keySet === Set(1L, 2L, 3L),
      "the {0,1} group keeps exactly its least-centroid-similar member; " +
        "the unpaired and the zero-norm rows survive as singletons")
    assert(byId(1L)._1 === 0L && byId(1L)._2 === 2L,
      "the survivor carries its group's component label and true size")
    assert(byId(2L)._2 === 1L && byId(3L)._2 === 1L)
    // identical vectors tie on ccos — the smaller id must win
    val tie = Seq(10L -> Array(1f, 0f, 0f), 11L -> Array(1f, 0f, 0f),
        12L -> Array(0f, 1f, 0f)).toDF("vec_id", "embedding")
    val tOut = graft.api.GraftOps.semDedup(tie, "vec_id", "embedding",
        minCosine = 0.95, nClusters = 1).collect().map(_.getLong(0)).toSet
    assert(tOut === Set(10L, 12L), "equal centroid similarity ties to " +
      "the smaller id")
    // the registry binding itself, over a frame that carries its OWN
    // `label` column (the embeddings schema — the shape that exposed a
    // dedupApply column collision with the components frame's `label`)
    val reg = VectorOps.q133(s, fx).collect()
    assert(reg.nonEmpty && reg.map(_.getLong(0)).distinct.length === reg.length)
  }

  // ---- q146 IVF-PQ ------------------------------------------------------

  /** A PQ-lossless corpus: every subvector is one of ≤ ksub distinct
    * values, so Euclidean Lloyd converges to exactly those values, the
    * reconstruction is the vector itself, and ADC cosines EQUAL exact
    * cosines — the geometry that lets a spec pin the ADC arithmetic
    * without tolerance. dim = 4, m = 2, subvector alphabet {(1,0),(0,1)}. */
  private def pqLossless(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(
      0L -> Array(1f, 0f, 1f, 0f),
      1L -> Array(1f, 0f, 0f, 1f),
      2L -> Array(0f, 1f, 1f, 0f),
      3L -> Array(0f, 1f, 0f, 1f),
      4L -> Array(1f, 0f, 1f, 0f), // exact dup of 0 — a guaranteed hit
      5L -> Array(0f, 1f, 0f, 1f)) // exact dup of 3
      .toDF("vec_id", "embedding")
  }

  test("q146 IVF-PQ: on a PQ-lossless corpus ADC is exact — ivfPqSearch " +
    "equals ivfSearch at the same coarse centroids, even at " +
    "rerankFactor = 1") {
    val s = spark
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = pqLossless(s)
    val pq = java.nio.file.Files.createTempDirectory("graft_pq_").toString
    val flat = java.nio.file.Files.createTempDirectory("graft_pqf_").toString
    // ksub = 4: the codes quantize coarse RESIDUALS, and each subspace
    // holds at most 2 raw patterns × 2 buckets = 4 distinct residual
    // values — 4 centers reconstruct them exactly (the lowid seeding
    // gives every distinct value its own center and Lloyd keeps it)
    GraftOps.ivfPqBuild(emb, "vec_id", "embedding", pq,
      nLists = 2, m = 2, ksub = 4, lloydIters = 3)
    // the flat member adopts the PQ store's coarse centroids, so the two
    // searches differ ONLY in the coarse-scoring arithmetic
    GraftOps.ivfBuild(emb, "vec_id", "embedding", flat,
      centroidsFrom = Some(pq))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val exact = rows(GraftOps.ivfSearch(emb, "vec_id", "embedding", flat,
      k = 2, nProbe = 2))
    // rerankFactor = 1: the shortlist IS the answer — if ADC ranked any
    // candidate wrong, the exact rerank could not repair it
    val adc = rows(GraftOps.ivfPqSearch(emb, "vec_id", "embedding", pq,
      k = 2, nProbe = 2, rerankFactor = 1))
    assert(adc === exact, "lossless PQ must reproduce the flat search")
    assert(adc.nonEmpty && adc.exists { case (q, _, v, c) =>
      q == 0L && v == 4L && c == 1.0 })
  }

  test("q146 IVF-PQ: append ≡ rebuild-on-union under frozen centroids " +
    "AND codebooks, row for row; adopt guards mismatched dials") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = pqLossless(s)
    val a = emb.filter(col("vec_id") <= 2)
    val b = emb.filter(col("vec_id") >= 3)
    val idx1 = java.nio.file.Files.createTempDirectory("graft_pqa_").toString
    val idx2 = java.nio.file.Files.createTempDirectory("graft_pqb_").toString
    GraftOps.ivfPqBuild(a, "vec_id", "embedding", idx1,
      nLists = 2, m = 2, ksub = 2, lloydIters = 2)
    GraftOps.ivfPqAppend(b, "vec_id", "embedding", idx1)
    // rebuild on the union: centroidsFrom an IVF-PQ source adopts the
    // codebooks too, so the encode geometry is identical
    GraftOps.ivfPqBuild(emb, "vec_id", "embedding", idx2,
      nLists = 2, m = 2, ksub = 2, centroidsFrom = Some(idx1))
    def res(dir: String) =
      GraftOps.ivfPqSearch(emb, "vec_id", "embedding", dir, k = 2,
          nProbe = 2, rerankFactor = 2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val appended = res(idx1)
    assert(appended === res(idx2),
      "append must be indistinguishable from rebuild at frozen quantizers")
    assert(appended.exists { case (_, _, vid, _) => vid >= 3L },
      "appended vectors are genuinely searchable")
    val e = intercept[IllegalArgumentException] {
      GraftOps.ivfPqBuild(emb, "vec_id", "embedding",
        java.nio.file.Files.createTempDirectory("graft_pqc_").toString,
        nLists = 2, m = 2, ksub = 4, centroidsFrom = Some(idx1))
    }
    assert(e.getMessage.contains("ksub"))
  }

  test("q146 IVF-PQ: retract removes a vector from search, compact " +
    "folds tombstones without changing results, re-append revives") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = pqLossless(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqr_").toString
    GraftOps.ivfPqBuild(emb, "vec_id", "embedding", dir,
      nLists = 2, m = 2, ksub = 2, lloydIters = 2)
    val q = emb.filter(col("vec_id") === 0)
    def hits() = GraftOps.ivfPqSearch(q, "vec_id", "embedding", dir,
        k = 3, nProbe = 2, rerankFactor = 2)
      .collect().map(_.getLong(2)).toSet
    assert(hits().contains(4L))
    GraftOps.ivfPqRetract(Seq(4L).toDF("id"), "id", dir)
    val afterRetract = hits()
    assert(!afterRetract.contains(4L),
      "a retracted vector must stop appearing in search results")
    GraftOps.ivfPqCompact(s, dir)
    assert(hits() === afterRetract,
      "compact must not change the live search results")
    assert(!GraftOps.describeIndex(s, dir).collect()
        .exists(_.getString(0) == "tombstones"),
      "compact folds the tombstones table away")
    GraftOps.ivfPqAppend(emb.filter(col("vec_id") === 4), "vec_id",
      "embedding", dir)
    assert(hits().contains(4L), "re-append after retract revives the id")
  }

  test("serving-path metadata memo: a fresh commit at the same dir is " +
    "observed by the next search (staleness impossible by version " +
    "keying), and repeat probes of an unmoved index stay correct") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = pqLossless(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_").toString
    GraftOps.ivfPqBuild(emb, "vec_id", "embedding", dir,
      nLists = 2, m = 2, ksub = 4, lloydIters = 2)
    val q = emb.filter(col("vec_id") === 0)
    def hits() = GraftOps.ivfPqSearch(q, "vec_id", "embedding", dir,
        k = 3, nProbe = 2, rerankFactor = 4)
      .collect().map(_.getLong(2)).toSet
    val first = hits()
    assert(first.contains(4L))
    // repeat probe: centroids/codebooks/meta now serve from the memo —
    // results must be identical
    assert(hits() === first, "a memo hit must not change results")
    // REBUILD at the same dir on a shifted corpus (new ids 10–15, new
    // quantizers, MORE lists — a stale centroid array would cap the
    // probe at the old list count and miss buckets): the new commit is
    // a new version, so the memo misses by construction
    val emb2 = emb.select((col("vec_id") + 10).as("vec_id"),
      col("embedding"))
    GraftOps.ivfPqBuild(emb2, "vec_id", "embedding", dir,
      nLists = 3, m = 2, ksub = 4, lloydIters = 2)
    val q2 = emb2.filter(col("vec_id") === 10)
    val after = GraftOps.ivfPqSearch(q2, "vec_id", "embedding", dir,
        k = 3, nProbe = 3, rerankFactor = 4)
      .collect().map(_.getLong(2)).toSet
    assert(after.contains(14L) && after.forall(_ >= 10L),
      s"the rebuilt index must serve the NEW corpus ($after)")
    // same law for the flat IVF member and the bm25 stats memo
    val fdir = java.nio.file.Files.createTempDirectory("graft_memof_").toString
    GraftOps.ivfBuild(emb, "vec_id", "embedding", fdir, nLists = 2,
      lloydIters = 2)
    val f1 = GraftOps.ivfSearch(q, "vec_id", "embedding", fdir, k = 3,
      nProbe = 2).collect().map(_.getLong(2)).toSet
    assert(GraftOps.ivfSearch(q, "vec_id", "embedding", fdir, k = 3,
      nProbe = 2).collect().map(_.getLong(2)).toSet === f1)
    GraftOps.ivfBuild(emb2, "vec_id", "embedding", fdir, nLists = 2,
      lloydIters = 2)
    val f2 = GraftOps.ivfSearch(q2, "vec_id", "embedding", fdir, k = 3,
      nProbe = 2).collect().map(_.getLong(2)).toSet
    assert(f2.forall(_ >= 10L), s"flat rebuild must be observed ($f2)")
    // the PREPARED probe pieces (checkpointed probe frame + collected
    // touched buckets) are version-keyed too: the SAME query plan
    // re-probed after an APPEND must see the new segment — a stale
    // prepared entry would skip its buckets entirely
    val fdir2 = java.nio.file.Files.createTempDirectory("graft_memop_")
      .toString
    GraftOps.ivfBuild(emb, "vec_id", "embedding", fdir2, nLists = 2,
      lloydIters = 2)
    val warm = GraftOps.ivfSearch(q, "vec_id", "embedding", fdir2, k = 3,
      nProbe = 2).collect().map(_.getLong(2)).toSet
    assert(GraftOps.ivfSearch(q, "vec_id", "embedding", fdir2, k = 3,
      nProbe = 2).collect().map(_.getLong(2)).toSet === warm)
    val dup = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    GraftOps.ivfAppend(dup, "vec_id", "embedding", fdir2)
    assert(GraftOps.ivfSearch(q, "vec_id", "embedding", fdir2, k = 3,
        nProbe = 2).collect().map(_.getLong(2)).toSet.contains(100L),
      "a same-plan re-probe after an append must see the new segment " +
        "(prepared probes are version-keyed)")
    // same law on the bm25 prepared query side
    val bdir = java.nio.file.Files.createTempDirectory("graft_memob_")
      .toString
    GraftOps.bm25IndexBuild(Seq((1L, "x y")).toDF("id", "txt"),
      "id", "txt", bdir, nBuckets = 4)
    val bq = Seq((0L, Seq("x"))).toDF("qid", "terms")
    def bmHits() = GraftOps.bm25AgainstCorpus(bq, "qid", "terms", bdir,
      k = 2).collect().map(_.getLong(2)).toSet
    assert(bmHits() === Set(1L))
    assert(bmHits() === Set(1L), "a prepared bm25 hit must not change " +
      "results")
    GraftOps.bm25IndexAppend(Seq((2L, "x q")).toDF("id", "txt"),
      "id", "txt", bdir)
    assert(bmHits() === Set(1L, 2L),
      "a same-plan bm25 re-probe after an append must see the new doc " +
        "(prepared query side is version-keyed)")
  }

  test("q146 IVF-PQ guards: missing store names the builder; wrong " +
    "width fails loudly; m must divide dim; byte-range ksub") {
    val s = spark
    import s.implicits._
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = pqLossless(s)
    val e1 = intercept[IllegalArgumentException] {
      GraftOps.ivfPqSearch(emb, "vec_id", "embedding",
        java.nio.file.Files.createTempDirectory("graft_pqn_").toString,
        k = 1)
    }
    assert(e1.getMessage.contains("ivfPqBuild"))
    val e2 = intercept[IllegalArgumentException] {
      GraftOps.ivfPqBuild(emb, "vec_id", "embedding",
        java.nio.file.Files.createTempDirectory("graft_pqm_").toString,
        nLists = 2, m = 3, ksub = 2)
    }
    assert(e2.getMessage.contains("divide"))
    val e3 = intercept[IllegalArgumentException] {
      GraftOps.ivfPqBuild(emb, "vec_id", "embedding",
        java.nio.file.Files.createTempDirectory("graft_pqk_").toString,
        nLists = 2, m = 2, ksub = 512)
    }
    assert(e3.getMessage.contains("ksub"))
    val dir = java.nio.file.Files.createTempDirectory("graft_pqw_").toString
    GraftOps.ivfPqBuild(emb, "vec_id", "embedding", dir,
      nLists = 2, m = 2, ksub = 2, lloydIters = 1)
    val bad = Seq(9L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val e4 = intercept[Exception] {
      GraftOps.ivfPqSearch(bad, "vec_id", "embedding", dir, k = 1).collect()
    }
    assert(e4.getMessage.contains("ivfPqSearch"))
    val e5 = intercept[Exception] {
      GraftOps.ivfPqAppend(bad, "vec_id", "embedding", dir)
    }
    assert(e5.getMessage.contains("ivfPqAppend"))
  }

  // ---- q147 classifier store --------------------------------------------

  /** Shared corpus for the clf-store specs: ids 0–5, reference class =
    * even ids (separable on the 'ref'/'web' marker tokens). */
  private def clfDocs(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(
      (0L, "ref alpha beta", 1), (1L, "web gamma delta", 0),
      (2L, "ref alpha gamma", 1), (3L, "web beta delta", 0),
      (4L, "ref beta gamma", 1), (5L, "web alpha delta", 0))
      .toDF("doc_id", "text", "label")
  }

  test("q147 clf store: build∘append∘retract then trainAgainstStore ≡ " +
    "one-shot train over the net corpus (weights 1e-6, scores 1 ulp); " +
    "compact preserves the model") {
    val s = spark
    import s.implicits._
    import graft.api.TextAnalysis
    val docs = clfDocs(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_clf_").toString
    TextAnalysis.clfStoreBuild(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", "label", dir, numFeatures = 16)
    TextAnalysis.clfStoreAppend(docs.filter(col("doc_id") >= 3),
      "doc_id", "text", "label", dir)
    TextAnalysis.clfStoreRetract(docs.filter(col("doc_id") === 1),
      "doc_id", "text", "label", dir)
    val net = docs.filter(col("doc_id") =!= 1)
    def wmap(m: org.apache.spark.sql.DataFrame) = m.collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val fromStore = wmap(TextAnalysis.trainClassifierAgainstStore(s, dir,
      iters = 7))
    val oneShot = wmap(TextAnalysis.trainQualityClassifier(net, "doc_id",
      "text", "label", numFeatures = 16, iters = 7))
    assert(fromStore.keySet === oneShot.keySet)
    assert(fromStore.forall { case (b, w) =>
      math.abs(w - oneShot(b)) <= 1e-6 },
      s"store-trained weights must match the one-shot " +
        s"(got $fromStore want $oneShot)")
    // the retracted doc genuinely left: training WITH it diverges
    val withDoc1 = wmap(TextAnalysis.trainQualityClassifier(docs, "doc_id",
      "text", "label", numFeatures = 16, iters = 7))
    assert(fromStore.exists { case (b, w) =>
      math.abs(w - withDoc1(b)) > 1e-6 },
      "the retracted document must stop influencing the model")
    TextAnalysis.clfStoreCompact(s, dir)
    val afterCompact = wmap(TextAnalysis.trainClassifierAgainstStore(s, dir,
      iters = 7))
    assert(afterCompact.forall { case (b, w) =>
      math.abs(w - oneShot(b)) <= 1e-6 },
      "compact must not change the trained model")
    // scores under the two models agree to the shared 4dp boundary
    val s1 = TextAnalysis.qualityScore(net, "doc_id", "text",
        TextAnalysis.trainClassifierAgainstStore(s, dir, iters = 7))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s2 = TextAnalysis.qualityScore(net, "doc_id", "text",
        TextAnalysis.trainQualityClassifier(net, "doc_id", "text", "label",
          numFeatures = 16, iters = 7))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s1.keySet === s2.keySet && s1.forall { case (d, p) =>
      math.abs(p - s2(d)) <= 1.01e-4 })
  }

  test("q147 clf store guards: duplicate live append and mismatched " +
    "retract fail loudly at compact; append before build names the " +
    "builder; empty batches are no-ops") {
    val s = spark
    import s.implicits._
    import graft.api.TextAnalysis
    val docs = clfDocs(s)
    // duplicate append while live
    val d1 = java.nio.file.Files.createTempDirectory("graft_clfd_").toString
    TextAnalysis.clfStoreBuild(docs, "doc_id", "text", "label", d1,
      numFeatures = 16)
    TextAnalysis.clfStoreAppend(docs.filter(col("doc_id") === 0),
      "doc_id", "text", "label", d1)
    val e1 = intercept[Exception] { TextAnalysis.clfStoreCompact(s, d1) }
    assert(e1.getMessage.contains("net bias weight"))
    // retract whose label does not match its append
    val d2 = java.nio.file.Files.createTempDirectory("graft_clfm_").toString
    TextAnalysis.clfStoreBuild(docs, "doc_id", "text", "label", d2,
      numFeatures = 16)
    TextAnalysis.clfStoreRetract(
      docs.filter(col("doc_id") === 0).withColumn("label", lit(0)),
      "doc_id", "text", "label", d2)
    val e2 = intercept[Exception] { TextAnalysis.clfStoreCompact(s, d2) }
    assert(e2.getMessage.contains("net bias weight"))
    // wiring guards
    val e3 = intercept[IllegalArgumentException] {
      TextAnalysis.clfStoreAppend(docs, "doc_id", "text", "label",
        java.nio.file.Files.createTempDirectory("graft_clfn_").toString)
    }
    assert(e3.getMessage.contains("clfStoreBuild"))
    val e4 = intercept[IllegalArgumentException] {
      TextAnalysis.trainClassifierAgainstStore(s,
        java.nio.file.Files.createTempDirectory("graft_clfn2_").toString)
    }
    assert(e4.getMessage.contains("clfStoreBuild"))
    // empty append/retract: no new segment
    val segs = () => graft.api.GraftOps.describeIndex(s, d1)
      .filter(col("table") === "feats").head().getInt(1)
    val before = segs()
    TextAnalysis.clfStoreAppend(docs.filter(col("doc_id") > 99),
      "doc_id", "text", "label", d1)
    TextAnalysis.clfStoreRetract(docs.filter(col("doc_id") > 99),
      "doc_id", "text", "label", d1)
    assert(segs() === before, "empty batches must not publish segments")
  }

  test("in-batch duplicate doc ids fail loudly at the append on BOTH " +
    "stores (bm25 + clf), and the store stays unchanged; a cross-batch " +
    "duplicate fails at the next trainAgainstStore, not only at compact") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, TextAnalysis}
    val docs = clfDocs(s)
    // a batch with doc_id 0 twice (different text — the worst shape:
    // post-fold it is one plausible-looking row)
    val dup = Seq((0L, "ref alpha", 1), (0L, "ref beta", 1))
      .toDF("doc_id", "text", "label")
    val d1 = java.nio.file.Files.createTempDirectory("graft_clfb_").toString
    TextAnalysis.clfStoreBuild(docs.filter(col("doc_id") >= 3),
      "doc_id", "text", "label", d1, numFeatures = 16)
    val segs = () => GraftOps.describeIndex(s, d1)
      .filter(col("table") === "feats").head().getInt(1)
    val before = segs()
    val e1 = intercept[Exception] {
      TextAnalysis.clfStoreAppend(dup, "doc_id", "text", "label", d1)
    }
    assert(e1.getMessage.contains("more than once in this batch"))
    assert(segs() === before,
      "the aborted append must not publish a segment")
    // bm25: same guard, same wording
    val d2 = java.nio.file.Files.createTempDirectory("graft_bmb_").toString
    GraftOps.bm25IndexBuild(docs.filter(col("doc_id") >= 3)
      .select(col("doc_id").as("id"), col("text").as("txt")),
      "id", "txt", d2, nBuckets = 16)
    val e2 = intercept[Exception] {
      GraftOps.bm25IndexAppend(
        dup.select(col("doc_id").as("id"), col("text").as("txt")),
        "id", "txt", d2)
    }
    assert(e2.getMessage.contains("more than once in this batch"))
    // duplicate build corpus fails too (the one-segment invariant the
    // trainAgainstStore fast path relies on)
    val e3 = intercept[Exception] {
      TextAnalysis.clfStoreBuild(dup, "doc_id", "text", "label",
        java.nio.file.Files.createTempDirectory("graft_clfb2_").toString,
        numFeatures = 16)
    }
    assert(e3.getMessage.contains("more than once in this batch"))
    // cross-batch duplicate (two appends of the same live id in two
    // segments): the net-bias contract now fails the RETRAIN loudly —
    // before r16 only a compact could see it and a corrupted store
    // trained silently
    TextAnalysis.clfStoreAppend(docs.filter(col("doc_id") === 0),
      "doc_id", "text", "label", d1)
    TextAnalysis.clfStoreAppend(docs.filter(col("doc_id") === 0),
      "doc_id", "text", "label", d1)
    val e4 = intercept[Exception] {
      TextAnalysis.trainClassifierAgainstStore(s, d1, iters = 2).collect()
    }
    assert(e4.getMessage.contains("net bias weight") &&
      e4.getMessage.contains("trainClassifierAgainstStore"))
  }

  test("q146 rerank shortlist-literal cap: past maxPushedIds the " +
    "broadcast-join-only fallback returns the identical row set (the " +
    "pushed filter is an I/O optimization, never a semantic one)") {
    val s = spark
    import graft.api.GraftOps
    graft.GraftExtensions.register(s)
    val emb = pqLossless(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_cap_").toString
    GraftOps.ivfPqBuild(emb, "vec_id", "embedding", dir,
      nLists = 2, m = 2, ksub = 4, lloydIters = 2)
    def res(cap: Int) = GraftOps.ivfPqSearch(emb, "vec_id", "embedding",
        dir, k = 3, nProbe = 2, rerankFactor = 2, maxPushedIds = cap)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(res(0) === res(8192),
      "capped (broadcast-only) and pushed rerank must agree row for row")
  }

  test("plain-append replay story: a re-delivered batchId is a no-op " +
    "on ivf, ivfPq, bm25, and clf stores (no segment, no double rows); " +
    "a batch below the watermark fails loudly") {
    val s = spark
    import s.implicits._
    import graft.api.{GraftOps, TextAnalysis}
    graft.GraftExtensions.register(s)
    def segCount(dir: String, table: String) = GraftOps.describeIndex(s, dir)
      .filter(col("table") === table).head().getInt(1)
    // ivfPq (the ivf twin shares indexRetractIds/commit machinery)
    val emb = pqLossless(s)
    val pqd = java.nio.file.Files.createTempDirectory("graft_rp_pq_").toString
    GraftOps.ivfPqBuild(emb.filter(col("vec_id") <= 3), "vec_id",
      "embedding", pqd, nLists = 2, m = 2, ksub = 4, lloydIters = 1)
    val b4 = emb.filter(col("vec_id") === 4)
    GraftOps.ivfPqAppend(b4, "vec_id", "embedding", pqd, batchId = Some(7L))
    val nSeg = segCount(pqd, "corpus")
    GraftOps.ivfPqAppend(b4, "vec_id", "embedding", pqd, batchId = Some(7L))
    assert(segCount(pqd, "corpus") === nSeg,
      "a replayed ivfPqAppend must not publish a second segment")
    val eLow = intercept[IllegalArgumentException] {
      GraftOps.ivfPqAppend(b4, "vec_id", "embedding", pqd,
        batchId = Some(3L))
    }
    assert(eLow.getMessage.contains("watermark"))
    val ivd = java.nio.file.Files.createTempDirectory("graft_rp_iv_").toString
    GraftOps.ivfBuild(emb.filter(col("vec_id") <= 3), "vec_id",
      "embedding", ivd, nLists = 2, lloydIters = 1)
    GraftOps.ivfAppend(b4, "vec_id", "embedding", ivd, batchId = Some(1L))
    val nSegIv = segCount(ivd, "corpus")
    GraftOps.ivfAppend(b4, "vec_id", "embedding", ivd, batchId = Some(1L))
    assert(segCount(ivd, "corpus") === nSegIv)
    // bm25: a replayed append must not double the postings (the scores
    // would silently shift; compact would later raise net >= 2)
    val docs = clfDocs(s).select(col("doc_id").as("id"),
      col("text").as("txt"))
    val bmd = java.nio.file.Files.createTempDirectory("graft_rp_bm_").toString
    GraftOps.bm25IndexBuild(docs.filter(col("id") >= 3), "id", "txt", bmd,
      nBuckets = 16)
    GraftOps.bm25IndexAppend(docs.filter(col("id") === 0), "id", "txt",
      bmd, batchId = Some(5L))
    val nSegBm = segCount(bmd, "postings")
    GraftOps.bm25IndexAppend(docs.filter(col("id") === 0), "id", "txt",
      bmd, batchId = Some(5L))
    assert(segCount(bmd, "postings") === nSegBm,
      "a replayed bm25IndexAppend must be a no-op")
    GraftOps.bm25IndexCompact(s, bmd) // the net >= 2 check must NOT fire
    // bm25 retract replay: the separate last_retract watermark
    GraftOps.bm25IndexRetract(docs.filter(col("id") === 0), "id", "txt",
      bmd, batchId = Some(6L))
    val nSegR = segCount(bmd, "postings")
    GraftOps.bm25IndexRetract(docs.filter(col("id") === 0), "id", "txt",
      bmd, batchId = Some(6L))
    assert(segCount(bmd, "postings") === nSegR,
      "a replayed bm25IndexRetract must be a no-op (double-subtract)")
    // clf: replayed append skips — the net-bias contract stays 1 and
    // the next retrain succeeds
    val cld = java.nio.file.Files.createTempDirectory("graft_rp_cl_").toString
    TextAnalysis.clfStoreBuild(clfDocs(s).filter(col("doc_id") >= 3),
      "doc_id", "text", "label", cld, numFeatures = 16)
    TextAnalysis.clfStoreAppend(clfDocs(s).filter(col("doc_id") === 0),
      "doc_id", "text", "label", cld, batchId = Some(2L))
    TextAnalysis.clfStoreAppend(clfDocs(s).filter(col("doc_id") === 0),
      "doc_id", "text", "label", cld, batchId = Some(2L))
    TextAnalysis.trainClassifierAgainstStore(s, cld, iters = 2).collect()
    // clf retract replay (the retract+append changed-doc pattern): a
    // re-delivered retract must not negate twice — net bias would go
    // to -1 and every later retrain would fail
    TextAnalysis.clfStoreRetract(clfDocs(s).filter(col("doc_id") === 0),
      "doc_id", "text", "label", cld, batchId = Some(3L))
    TextAnalysis.clfStoreRetract(clfDocs(s).filter(col("doc_id") === 0),
      "doc_id", "text", "label", cld, batchId = Some(3L))
    TextAnalysis.trainClassifierAgainstStore(s, cld, iters = 2).collect()
    TextAnalysis.clfStoreCompact(s, cld)
  }

  test("q147 trainAgainstStore skip-fold fast path: a compacted " +
    "(one-segment) store trains the identical model to the same store " +
    "pre-compact (multi-segment fold path)") {
    val s = spark
    import s.implicits._
    import graft.api.TextAnalysis
    val docs = clfDocs(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_clfs_").toString
    TextAnalysis.clfStoreBuild(docs.filter(col("doc_id") <= 1),
      "doc_id", "text", "label", dir, numFeatures = 16)
    TextAnalysis.clfStoreAppend(docs.filter(col("doc_id").between(2, 4)),
      "doc_id", "text", "label", dir)
    TextAnalysis.clfStoreRetract(docs.filter(col("doc_id") === 1),
      "doc_id", "text", "label", dir)
    def wmap(m: org.apache.spark.sql.DataFrame) = m.collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val multiSeg = wmap(TextAnalysis.trainClassifierAgainstStore(s, dir,
      iters = 5))
    TextAnalysis.clfStoreCompact(s, dir)
    val oneSeg = wmap(TextAnalysis.trainClassifierAgainstStore(s, dir,
      iters = 5))
    assert(oneSeg.keySet === multiSeg.keySet)
    assert(oneSeg.forall { case (b, w) =>
      math.abs(w - multiSeg(b)) <= 1e-9 },
      s"skip-fold path must train the same model (got $oneSeg " +
        s"want $multiSeg)")
  }

  test("q147 registry binding: one score per document, deterministic " +
    "across runs") {
    val r1 = TextOps.q147(spark, fx).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val r2 = TextOps.q147(spark, fx).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(r1 === r2, "the binding must be deterministic")
    assert(r1.map(_._1) === Tables.documents(spark, fx)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq)
    assert(r1.forall { case (_, p) => p >= 0.0 && p <= 1.0 })
  }

  test("q146 registry binding: k hits per query with true 4dp cosines, " +
    "deterministic across runs") {
    val r1 = VectorOps.q146(spark, fx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val r2 = VectorOps.q146(spark, fx).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(r1 === r2, "the binding must be deterministic")
    assert(r1.nonEmpty && r1.forall { case (_, _, _, c) =>
      c >= -1.0001 && c <= 1.0001 })
    assert(r1.groupBy(_._1).values.forall(g =>
      g.map(_._2).sorted === (1 to g.length).toSeq))
  }
}
