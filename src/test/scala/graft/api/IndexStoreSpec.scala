package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.SparkTestBase

/** The store's recorded segment schemas and commit identity, and the
  * Spark job budget of the hybrid query path they make possible:
  *  - every committed segment's manifest-recorded schema equals what
  *    `spark.read.parquet(segment)` infers, for every index family and
  *    the profile store, and no read of a committed table runs a job;
  *  - every family records its layout as manifest props, whose values
  *    round-trip any string, and a missing prop fails loudly;
  *  - a compact rewrites only the tables it folds: frozen tables keep
  *    the build's segment and tombstones leave the manifest;
  *  - every append, retract and compact against a dir holding no index
  *    fails with one message naming the builder;
  *  - a batch sketch takes its shape from the snapshot it probes, and
  *    appending it after a rebuild to another shape fails loudly;
  *  - the metadata memos cannot serve a deleted-and-rebuilt index;
  *  - a repeat hybrid query costs the same however many segments the
  *    indexes have accreted. */
class IndexStoreSpec extends SparkTestBase {

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def words(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (seed * 1000L + i,
      Seq.fill(3 + rnd.nextInt(6))(s"w${rnd.nextInt(24)}").mkString(" ")))
  }

  private def vectors(seed: Int, n: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (seed * 1000L + i,
      Array.fill(4)(rnd.nextFloat() - 0.5f)))
  }

  /** Every (table, segment) of the latest snapshot: recorded schema vs
    * Spark's own inference, and zero jobs to set up each read. */
  private def assertSchemasRecorded(dir: String,
      segmentDir: (String, String) => String = (t, v) => s"$v/$t"): Unit = {
    val snap = IndexStore.resolve(spark, dir).get
    assert(snap.tables.nonEmpty)
    snap.tables.foreach { case (t, segs) =>
      segs.foreach { v =>
        assert(snap.schema(t, v) ===
          spark.read.parquet(s"$dir/${segmentDir(t, v)}").schema,
          s"$dir: recorded schema of $t/$v")
      }
    }
  }

  private def assertReadsRunNoJob(dir: String): Unit = {
    val snap = IndexStore.resolve(spark, dir).get
    snap.tables.keys.foreach { t =>
      val (plain, j1) = withJobCount(IndexStore.readTable(spark, dir, snap, t))
      val (tagged, j2) = withJobCount(
        IndexStore.readTableTagged(spark, dir, snap, t, "__seg"))
      assert((j1, j2) === ((0, 0)), s"$dir: reading table $t ran jobs")
      assert(plain.columns.toSeq === snap.schema(t, snap.tables(t).head)
        .fieldNames.toSeq)
      assert(tagged.columns.toSeq === plain.columns.toSeq :+ "__seg")
    }
  }

  test("every index family records each segment's read schema, and no " +
    "read of a committed table — plain or tombstone-tagged — runs a " +
    "schema-inference job") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = words(1, 12).toDF("doc_id", "text")
    val more = words(2, 4).toDF("doc_id", "text")
    val emb = vectors(1, 16).toDF("vec_id", "embedding")
    val embMore = vectors(2, 4).toDF("vec_id", "embedding")
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def dir(prefix: String): String = { val d = scratch(prefix); dirs += d; d }

    val gram = dir("graft_ss_gram_")
    GraftOps.gramIndexBuild(docs, "text", gram, k = 2, nBuckets = 4)
    GraftOps.gramIndexAppend(more, "text", gram)
    val fp = dir("graft_ss_fp_")
    GraftOps.fingerprintBuild(docs, "doc_id", "text", fp)
    GraftOps.fingerprintAppend(more, "doc_id", "text", fp)
    GraftOps.fingerprintRetract(docs.limit(2), "doc_id", fp)
    val srp = dir("graft_ss_srp_")
    GraftOps.srpIndexBuild(emb, "vec_id", "embedding", srp, dim = 4)
    GraftOps.srpIndexAppend(embMore, "vec_id", "embedding", srp)
    val dg = dir("graft_ss_dg_")
    GraftOps.digestIndexBuild(docs, "text", dg, nBuckets = 4)
    GraftOps.digestIndexAppend(more, "text", dg)
    GraftOps.digestIndexRetract(docs.limit(2), "text", dg)
    val bm = dir("graft_ss_bm_")
    GraftOps.bm25IndexBuild(docs, "doc_id", "text", bm, nBuckets = 4)
    GraftOps.bm25IndexAppend(more, "doc_id", "text", bm)
    GraftOps.bm25IndexRetract(docs.limit(2), "doc_id", "text", bm)
    val ivf = dir("graft_ss_ivf_")
    GraftOps.ivfBuild(emb, "vec_id", "embedding", ivf, nLists = 4)
    GraftOps.ivfAppend(embMore, "vec_id", "embedding", ivf)
    GraftOps.ivfRetract(emb.limit(2), "vec_id", ivf)
    val pq = dir("graft_ss_pq_")
    GraftOps.ivfPqBuild(emb, "vec_id", "embedding", pq, nLists = 2, m = 2,
      ksub = 4)
    GraftOps.ivfPqAppend(embMore, "vec_id", "embedding", pq)
    val cl = dir("graft_ss_cl_")
    GraftOps.clusterIndexBuild(Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("x", "y"),
      "x", "y", cl, nBuckets = 4)
    GraftOps.clusterIndexAppend(Seq((3L, 4L)).toDF("x", "y"), "x", "y", cl)
    val pk = dir("graft_ss_pk_")
    GraftOps.packIndexBuild((0L until 8L).map(i => (i, 5L)).toDF("id", "nt"),
      "id", "nt", pk, seqLen = 8, nShards = 2)
    GraftOps.packIndexAppend(Seq((100L, 3L)).toDF("id", "nt"), "id", "nt", pk)
    val ds = dir("graft_ss_dsir_")
    GraftOps.dsirStatsBuild(docs, "doc_id", "text", more, "text", ds,
      nBuckets = 4)
    GraftOps.dsirStatsRetract(docs.limit(2), "doc_id", "text", ds)
    val lm = dir("graft_ss_lm_")
    GraftOps.lmStatsBuild(docs, "text", lm, nBuckets = 4)
    GraftOps.lmStatsAppend(more, "text", lm)

    dirs.foreach { d => assertSchemasRecorded(d); assertReadsRunNoJob(d) }
    // tombstone-tagged reads carry the recorded schema through the
    // retraction-aware paths
    assert(IndexStore.resolve(s, fp).get.tables.contains("tombstones"))
    assert(IndexStore.resolve(s, ivf).get.tables.contains("tombstones"))
  }

  /** Every manifest an index dir holds, oldest first. */
  private def allSnapshots(dir: String): Seq[IndexStore.Snapshot] =
    (1 to IndexStore.resolve(spark, dir).get.version)
      .flatMap(IndexStore.resolveAt(spark, dir, _))

  /** The watermark props a commit may add beside the layout. */
  private val Watermarks = Set("last_batch", "last_batch_base", "last_retract")

  test("across build, append and compact, every family records its layout " +
    "as manifest props with the build's values, and no manifest lists a " +
    "meta table") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = words(1, 12).toDF("doc_id", "text")
    val more = words(2, 4).toDF("doc_id", "text")
    val labeled = docs.withColumn("label", (col("doc_id") % 2).cast("int"))
    val labeledMore = more.withColumn("label", (col("doc_id") % 2).cast("int"))
    val emb = vectors(1, 16).toDF("vec_id", "embedding")
    val embMore = vectors(2, 4).toDF("vec_id", "embedding")
    val merges = TextAnalysis.bpeTrain(docs, "text", 4, method = "local")
    // (name, steps, expected layout props) — each step is one commit
    val families: Seq[(String, Seq[String => Unit], Map[String, String])] =
      Seq(
        ("gram", Seq(
          d => GraftOps.gramIndexBuild(docs, "text", d, k = 3, nBuckets = 5),
          d => GraftOps.gramIndexAppend(more, "text", d),
          d => GraftOps.gramIndexRetract(more, "text", d),
          d => GraftOps.gramIndexCompact(s, d)),
          Map("k" -> "3", "n_buckets" -> "5")),
        ("fingerprint", Seq(
          d => GraftOps.fingerprintBuild(docs, "doc_id", "text", d,
            nHashes = 16, bands = 4),
          d => GraftOps.fingerprintAppend(more, "doc_id", "text", d),
          d => GraftOps.fingerprintRetract(docs.limit(2), "doc_id", d),
          d => GraftOps.fingerprintCompact(s, d)),
          Map("n_hashes" -> "16", "bands" -> "4")),
        ("srp", Seq(
          d => GraftOps.srpIndexBuild(emb, "vec_id", "embedding", d, dim = 4,
            nBits = 16, bands = 4, seed = 7L),
          d => GraftOps.srpIndexAppend(embMore, "vec_id", "embedding", d),
          d => GraftOps.srpIndexRetract(emb.limit(2), "vec_id", d),
          d => GraftOps.srpIndexCompact(s, d)),
          Map("dim" -> "4", "n_bits" -> "16", "bands" -> "4", "seed" -> "7")),
        ("digest", Seq(
          d => GraftOps.digestIndexBuild(docs, "text", d, nBuckets = 5),
          d => GraftOps.digestIndexAppend(more, "text", d),
          d => GraftOps.digestIndexRetract(docs.limit(2), "text", d),
          d => GraftOps.digestIndexCompact(s, d)),
          Map("n_buckets" -> "5")),
        ("digest+bloom", Seq(
          d => GraftOps.digestIndexBuild(docs, "text", d, nBuckets = 5,
            bloomFpp = Some(0.05)),
          d => GraftOps.digestIndexAppend(more, "text", d),
          d => GraftOps.digestIndexRetract(docs.limit(2), "text", d),
          d => GraftOps.digestIndexCompact(s, d)),
          Map("n_buckets" -> "5", "bloom_fpp" -> "0.05")),
        ("bm25", Seq(
          d => GraftOps.bm25IndexBuild(docs, "doc_id", "text", d,
            nBuckets = 5),
          d => GraftOps.bm25IndexAppend(more, "doc_id", "text", d),
          d => GraftOps.bm25IndexRetract(more, "doc_id", "text", d),
          d => GraftOps.bm25IndexCompact(s, d)),
          Map("n_buckets" -> "5")),
        ("ivf", Seq(
          d => GraftOps.ivfBuild(emb, "vec_id", "embedding", d, nLists = 2),
          d => GraftOps.ivfAppend(embMore, "vec_id", "embedding", d),
          d => GraftOps.ivfRetract(emb.limit(2), "vec_id", d),
          d => GraftOps.ivfCompact(s, d)),
          Map.empty[String, String]),
        ("ivfPq", Seq(
          d => GraftOps.ivfPqBuild(emb, "vec_id", "embedding", d, nLists = 2,
            m = 2, ksub = 4),
          d => GraftOps.ivfPqAppend(embMore, "vec_id", "embedding", d),
          d => GraftOps.ivfPqRetract(emb.limit(2), "vec_id", d),
          d => GraftOps.ivfPqCompact(s, d)),
          Map("m" -> "2", "ksub" -> "4", "dim" -> "4", "enc" -> "residual-v1")),
        ("cluster", Seq(
          d => GraftOps.clusterIndexBuild(
            Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("x", "y"), "x", "y", d,
            nBuckets = 5),
          d => GraftOps.clusterIndexAppend(Seq((3L, 4L)).toDF("x", "y"),
            "x", "y", d),
          d => GraftOps.clusterRetract(Seq(Tuple1(3L)).toDF("node"), "node",
            d),
          d => GraftOps.clusterIndexCompact(s, d)),
          Map("n_buckets" -> "5")),
        ("pack", Seq(
          d => { GraftOps.packIndexBuild(
            (0L until 8L).map(i => (i, 5L)).toDF("id", "nt"), "id", "nt", d,
            seqLen = 8, nShards = 2); () },
          d => { GraftOps.packIndexAppend(Seq((100L, 3L)).toDF("id", "nt"),
            "id", "nt", d).collect(); () }),
          Map("seq_len" -> "8", "n_shards" -> "2")),
        ("dsir", Seq(
          d => GraftOps.dsirStatsBuild(docs, "doc_id", "text", more, "text",
            d, n = 1, featureBuckets = Some(32), nBuckets = 5),
          d => GraftOps.dsirStatsAppend(more, "doc_id", "text", d),
          d => GraftOps.dsirStatsRetract(more, "doc_id", "text", d),
          d => GraftOps.dsirStatsCompact(s, d)),
          Map("n" -> "1", "n_buckets" -> "5", "feature_buckets" -> "32")),
        ("lm", Seq(
          d => GraftOps.lmStatsBuild(docs, "text", d, n = 1, nBuckets = 5),
          d => GraftOps.lmStatsAppend(more, "text", d),
          d => GraftOps.lmStatsRetract(more, "text", d),
          d => GraftOps.lmStatsCompact(s, d)),
          Map("n" -> "1", "n_buckets" -> "5")),
        ("classifier", Seq(
          d => TextAnalysis.clfStoreBuild(labeled, "doc_id", "text", "label",
            d, numFeatures = 16),
          d => TextAnalysis.clfStoreAppend(labeledMore, "doc_id", "text",
            "label", d),
          d => TextAnalysis.clfStoreRetract(labeledMore, "doc_id", "text",
            "label", d),
          d => TextAnalysis.clfStoreCompact(s, d)),
          Map("num_features" -> "16")),
        ("vocab", Seq(
          d => TextAnalysis.vocabStoreBuild(docs, "text", merges, d,
            endOfWord = "</w>"),
          d => TextAnalysis.vocabStoreAppendTokens(s, Seq("<unk>"), d)),
          Map("end_of_word" -> "</w>")))
    families.foreach { case (name, steps, layout) =>
      val dir = scratch(s"graft_props_${name.replace('+', '_')}_")
      steps.foreach(_(dir))
      val snaps = allSnapshots(dir)
      assert(snaps.size === steps.size, s"$name: one commit per step")
      snaps.foreach { snap =>
        assert(!snap.tables.contains("meta"),
          s"$name v${snap.version} lists a meta table")
        assert(snap.props -- Watermarks === layout,
          s"$name v${snap.version} layout props")
      }
      assert(!new java.io.File(dir).listFiles().exists(v =>
        new java.io.File(v, "meta").exists), s"$name wrote a meta dir")
      // the compact (the last step where a family has one) rewrites only
      // what it folds: frozen tables keep the build's segment, and the
      // folded tombstones leave the manifest
      val last = snaps.last
      assert(!last.tables.contains("tombstones"),
        s"$name v${last.version} still lists tombstones")
      Seq("centroids", "codebooks").filter(last.tables.contains).foreach { t =>
        assert(last.tables(t) === Seq("v00001"),
          s"$name: the compact rewrote the frozen $t table")
      }
    }
  }

  test("every family's append, retract and compact against a dir holding " +
    "no index fails with one message naming the builder") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = words(1, 4).toDF("doc_id", "text")
    val labeled = docs.withColumn("label", (col("doc_id") % 2).cast("int"))
    val emb = vectors(1, 4).toDF("vec_id", "embedding")
    val nodes = Seq(Tuple1(1L)).toDF("node")
    // (what, builder, every mutation of the family)
    val families: Seq[(String, String, Seq[String => Unit])] = Seq(
      ("gram", "gramIndexBuild", Seq(
        d => GraftOps.gramIndexAppend(docs, "text", d),
        d => GraftOps.gramIndexRetract(docs, "text", d),
        d => GraftOps.gramIndexCompact(s, d))),
      ("fingerprint", "fingerprintBuild", Seq(
        d => GraftOps.fingerprintAppend(docs, "doc_id", "text", d),
        d => GraftOps.fingerprintRetract(docs, "doc_id", d),
        d => GraftOps.fingerprintCompact(s, d))),
      ("SRP embedding", "srpIndexBuild", Seq(
        d => GraftOps.srpIndexAppend(emb, "vec_id", "embedding", d),
        d => GraftOps.srpIndexRetract(emb, "vec_id", d),
        d => GraftOps.srpIndexCompact(s, d))),
      ("digest", "digestIndexBuild", Seq(
        d => GraftOps.digestIndexAppend(docs, "text", d),
        d => GraftOps.digestIndexRetract(docs, "text", d),
        d => GraftOps.digestIndexCompact(s, d))),
      ("BM25", "bm25IndexBuild", Seq(
        d => GraftOps.bm25IndexAppend(docs, "doc_id", "text", d),
        d => GraftOps.bm25IndexRetract(docs, "doc_id", "text", d),
        d => GraftOps.bm25IndexCompact(s, d))),
      ("IVF", "ivfBuild", Seq(
        d => GraftOps.ivfAppend(emb, "vec_id", "embedding", d),
        d => GraftOps.ivfRetract(emb, "vec_id", d),
        d => GraftOps.ivfCompact(s, d))),
      ("IVF-PQ", "ivfPqBuild", Seq(
        d => GraftOps.ivfPqAppend(emb, "vec_id", "embedding", d),
        d => GraftOps.ivfPqRetract(emb, "vec_id", d),
        d => GraftOps.ivfPqCompact(s, d))),
      ("cluster", "clusterIndexBuild", Seq(
        d => GraftOps.clusterIndexAppend(Seq((1L, 2L)).toDF("x", "y"), "x",
          "y", d),
        d => GraftOps.clusterRetract(nodes, "node", d),
        d => GraftOps.clusterIndexCompact(s, d))),
      ("pack", "packIndexBuild", Seq(
        d => { GraftOps.packIndexAppend(Seq((1L, 3L)).toDF("id", "nt"), "id",
          "nt", d); () })),
      ("dsir-stats", "dsirStatsBuild", Seq(
        d => GraftOps.dsirStatsAppend(docs, "doc_id", "text", d),
        d => GraftOps.dsirStatsRetract(docs, "doc_id", "text", d),
        d => GraftOps.dsirStatsCompact(s, d))),
      ("LM-stats", "lmStatsBuild", Seq(
        d => GraftOps.lmStatsAppend(docs, "text", d),
        d => GraftOps.lmStatsRetract(docs, "text", d),
        d => GraftOps.lmStatsCompact(s, d))),
      ("classifier feature", "clfStoreBuild", Seq(
        d => TextAnalysis.clfStoreAppend(labeled, "doc_id", "text", "label",
          d),
        d => TextAnalysis.clfStoreRetract(labeled, "doc_id", "text", "label",
          d),
        d => TextAnalysis.clfStoreCompact(s, d))),
      ("vocab", "vocabStoreBuild", Seq(
        d => TextAnalysis.vocabStoreAppendTokens(s, Seq("<unk>"), d))))
    families.foreach { case (what, builder, ops) =>
      ops.zipWithIndex.foreach { case (op, i) =>
        val dir = scratch("graft_noindex_")
        val e = intercept[IllegalArgumentException](op(dir))
        assert(e.getMessage ===
          s"no $what index at $dir — build one with $builder first",
          s"$what mutation #$i")
        assert(IndexStore.resolve(s, dir).isEmpty, s"$what #$i published")
      }
    }
  }

  test("a manifest missing a layout prop fails loudly, naming the key " +
    "and the rebuild") {
    val s = spark
    import s.implicits._
    val dir = scratch("graft_props_missing_")
    GraftOps.bm25IndexBuild(words(3, 10).toDF("doc_id", "text"), "doc_id",
      "text", dir, nBuckets = 4)
    // the commit an older build would have left: same tables, no layout
    IndexStore.commit(s, dir, "stripProps") { (base, _) =>
      (base.get.tables, Map.empty[String, String])
    }
    val e = intercept[IllegalStateException] {
      GraftOps.bm25AgainstCorpus(Seq((1L, Seq("w1"))).toDF("qid", "terms"),
        "qid", "terms", dir, 3)
    }
    assert(e.getMessage.contains("'n_buckets'"), e.getMessage)
    assert(e.getMessage.contains("rebuild the index"), e.getMessage)
    assert(e.getMessage.contains(dir) && e.getMessage.contains("v2"),
      e.getMessage)
  }

  test("manifest prop values round-trip any string — space, '%', '=', ':' " +
    "— and a number is written as itself") {
    val s = spark
    import s.implicits._
    val dir = scratch("graft_props_enc_")
    val props = Map("odd" -> "a b%20=c:d\tz\n%", "fpp" -> "0.05",
      "neg" -> "-3")
    IndexStore.commit(s, dir, "encSpec") { (_, v) =>
      Seq(1L).toDF("x").write.parquet(s"$dir/$v/rows")
      (Map("rows" -> Seq(v)), props)
    }
    assert(IndexStore.resolve(s, dir).get.props === props)
    val manifest = scala.io.Source.fromFile(s"$dir/_manifests/v00001.manifest")
      .getLines().toSeq
    assert(manifest.contains("prop fpp 0.05") && manifest.contains("prop neg -3"))
    // the vocab store keeps a whitespace-bearing end-of-word marker
    val train = words(4, 10).toDF("doc_id", "text")
    val eow = "</ w%=:>"
    val merges = TextAnalysis.bpeTrain(train, "text", 4, endOfWord = eow,
      method = "local")
    val vs = scratch("graft_props_eow_")
    TextAnalysis.vocabStoreBuild(train, "text", merges, vs, endOfWord = eow)
    def ids(df: DataFrame): Map[Long, Seq[Int]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(ids(TextAnalysis.vocabStoreTokenize(train, "doc_id", "text", vs)) ===
      ids(TextAnalysis.bpeTokenIds(
        TextAnalysis.bpeEncode(train, "doc_id", "text", merges, eow),
        "doc_id", "tokens", TextAnalysis.bpeVocab(train, "text", merges, eow))))
  }

  test("a batch sketch takes its shape from the snapshot it is given, " +
    "not from a rebuild that committed after it") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = words(5, 12).toDF("doc_id", "text")
    val batch = words(6, 4).toDF("doc_id", "text")
    def bandsOf(sk: DataFrame): Set[Int] =
      sk.select(size(col("sigs"))).as[Int].collect().toSet
    val fp = scratch("graft_pin_fp_")
    GraftOps.fingerprintBuild(docs, "doc_id", "text", fp, nHashes = 16,
      bands = 4)
    val a = IndexStore.resolve(s, fp).get
    GraftOps.fingerprintBuild(docs, "doc_id", "text", fp, nHashes = 32,
      bands = 8)
    assert(bandsOf(GraftOps.indexSketch(batch, "doc_id", "text", a)) ===
      Set(4))
    // probing A with A's shape equals probing a fresh index of that shape
    val same = scratch("graft_pin_same_")
    GraftOps.fingerprintBuild(docs, "doc_id", "text", same, nHashes = 16,
      bands = 4)
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
    assert(ids(GraftOps.dedupNearSketched(batch, "doc_id",
      GraftOps.indexSketch(batch, "doc_id", "text", a), fp, 80, None,
      Some(a))) ===
      ids(GraftOps.dedupNearAgainstCorpus(batch, "doc_id", "text", same)))
    val emb = vectors(5, 12).toDF("vec_id", "embedding")
    val srp = scratch("graft_pin_srp_")
    GraftOps.srpIndexBuild(emb, "vec_id", "embedding", srp, dim = 4,
      nBits = 16, bands = 4)
    val sa = IndexStore.resolve(s, srp).get
    GraftOps.srpIndexBuild(emb, "vec_id", "embedding", srp, dim = 4,
      nBits = 32, bands = 8)
    assert(bandsOf(GraftOps.srpIndexSketch(vectors(6, 3)
      .toDF("vec_id", "embedding"), "vec_id", "embedding", sa, "pinSpec")) ===
      Set(4))
  }

  test("a batch sketched for one layout fails loudly when appended after " +
    "a rebuild to another, and the rebuild stays the latest version") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    val docs = words(7, 12).toDF("doc_id", "text")
    val batch = words(8, 4).toDF("doc_id", "text")
    val fp = scratch("graft_shape_fp_")
    GraftOps.fingerprintBuild(docs, "doc_id", "text", fp, nHashes = 16,
      bands = 4)
    val a = IndexStore.resolve(s, fp).get
    val sk = GraftOps.indexSketch(batch, "doc_id", "text", a)
    GraftOps.fingerprintBuild(docs, "doc_id", "text", fp, nHashes = 32,
      bands = 8)
    val rebuilt = IndexStore.resolve(s, fp).get
    val e = intercept[IllegalStateException] {
      GraftOps.fingerprintAppendSketch(sk, a, fp)
    }
    assert(e.getMessage.contains("(bands=4, n_hashes=16)") &&
      e.getMessage.contains("(bands=8, n_hashes=32)") &&
      e.getMessage.contains("re-run the step"), e.getMessage)
    assert(IndexStore.resolve(s, fp).get.version === rebuilt.version)
    // the claim was released: the same batch sketched for the rebuild
    // appends
    GraftOps.fingerprintAppendSketch(
      GraftOps.indexSketch(batch, "doc_id", "text", rebuilt), rebuilt, fp)
    assert(IndexStore.resolve(s, fp).get.version === rebuilt.version + 1)
    val emb = vectors(7, 12).toDF("vec_id", "embedding")
    val srp = scratch("graft_shape_srp_")
    GraftOps.srpIndexBuild(emb, "vec_id", "embedding", srp, dim = 4,
      nBits = 16, bands = 4)
    val sa = IndexStore.resolve(s, srp).get
    val ssk = GraftOps.srpIndexSketch(vectors(8, 3).toDF("vec_id", "embedding"),
      "vec_id", "embedding", sa, "shapeSpec")
    GraftOps.srpIndexBuild(emb, "vec_id", "embedding", srp, dim = 4,
      nBits = 32, bands = 8)
    val sv = IndexStore.resolve(s, srp).get.version
    val e2 = intercept[IllegalStateException] {
      GraftOps.srpIndexAppendSketch(ssk, sa, srp)
    }
    assert(e2.getMessage.contains("n_bits=16") &&
      e2.getMessage.contains("n_bits=32"), e2.getMessage)
    assert(IndexStore.resolve(s, srp).get.version === sv)
  }

  test("the profile store records its bucket tables' shared schema once, " +
    "and reading the profile runs no job") {
    val s = spark
    import s.implicits._
    val dir = scratch("graft_ss_prof_")
    PortraitOps.profileUpsert(s, dir,
      Seq((1L, Seq("a")), (2L, Seq("b")), (3L, Seq("c"))).toDF("uid", "tags"),
      "uid", nBuckets = 4)
    PortraitOps.profileUpsert(s, dir, Seq((2L, Seq("z"))).toDF("uid", "tags"),
      "uid", nBuckets = 4)
    assertSchemasRecorded(dir, (_, v) => v)
    val snap = IndexStore.resolve(s, dir).get
    assert(snap.schemas.values.toSet.size === 1)
    val manifest = scala.io.Source.fromFile(
      f"$dir/_manifests/v${snap.version}%05d.manifest").getLines().toSeq
    assert(manifest.count(_.startsWith("schema ")) === 1,
      "one schema line, however many bucket tables point at it")
    val (read, jobs) = withJobCount(PortraitOps.profileRead(s, dir))
    assert(jobs === 0, "profileRead must not infer schemas")
    assert(read.columns.toSeq === Seq("uid", "tags", "bucket"))
    assert(read.select("uid", "tags").as[(Long, Seq[String])].collect()
      .sortBy(_._1).toSeq === Seq((1L, Seq("a")), (2L, Seq("b", "z")),
        (3L, Seq("c"))))
  }

  test("the manifest encoding survives column names with whitespace, '=' " +
    "and ':'") {
    val s = spark
    import s.implicits._
    val dir = scratch("graft_ss_names_")
    val df = Seq((1L, "x", 2.5)).toDF("a b", "k=v", "c:d  e")
    IndexStore.commit(s, dir, "namesSpec") { (_, v) =>
      df.write.parquet(s"$dir/$v/rows")
      (Map("rows" -> Seq(v)), Map.empty[String, String])
    }
    IndexStore.commit(s, dir, "namesSpec") { (base, v) =>
      df.write.parquet(s"$dir/$v/rows")
      (Map("rows" -> (base.get.tables("rows") :+ v)), base.get.props)
    }
    assertSchemasRecorded(dir)
    val snap = IndexStore.resolve(s, dir).get
    assert(snap.schema("rows", "v00001").fieldNames.toSeq ===
      Seq("a b", "k=v", "c:d  e"))
    assert(IndexStore.readTable(s, dir, snap, "rows").collect().toSeq ===
      Seq(Row(1L, "x", 2.5), Row(1L, "x", 2.5)))
  }

  test("a deleted and re-created index dir is never served the old " +
    "index's memoized stats, bucket count or prepared probes") {
    val s = spark
    import s.implicits._
    val dir = scratch("graft_ss_stale_")
    val qs = Seq((1L, Seq("w1", "w3", "w7"))).toDF("qid", "terms")
    def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
      df.as[(Long, Int, Long, Double)].collect().toSeq
    val a = words(3, 10).toDF("doc_id", "text")
    GraftOps.bm25IndexBuild(a, "doc_id", "text", dir, nBuckets = 4)
    assert(rows(GraftOps.bm25AgainstCorpus(qs, "qid", "terms", dir, 5)) ===
      rows(GraftOps.bm25TopK(a, "doc_id", "text", qs, "qid", "terms", 5)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val b = words(4, 30).toDF("doc_id", "text")
    GraftOps.bm25IndexBuild(b, "doc_id", "text", dir, nBuckets = 8)
    assert(IndexStore.resolve(s, dir).get.version === 1,
      "the rebuilt dir restarts its version chain")
    assert(rows(GraftOps.bm25AgainstCorpus(qs, "qid", "terms", dir, 5)) ===
      rows(GraftOps.bm25TopK(b, "doc_id", "text", qs, "qid", "terms", 5)))
  }

  test("embedding operators register graft_dot on a session that never " +
    "called GraftExtensions.register") {
    val s2 = spark.newSession()
    import s2.implicits._
    val emb = vectors(5, 12).toDF("vec_id", "embedding")
    val dir = scratch("graft_ss_dot_")
    GraftOps.ivfBuild(emb, "vec_id", "embedding", dir, nLists = 2)
    val q = Seq((-1L, Array(0.1f, 0.2f, -0.3f, 0.4f))).toDF("vec_id", "embedding")
    assert(GraftOps.ivfSearch(q, "vec_id", "embedding", dir, 3).count() === 3)
    val s3 = spark.newSession()
    def on3(rows: Seq[(Long, Array[Float])]): DataFrame =
      s3.createDataFrame(rows).toDF("vec_id", "embedding")
    assert(GraftOps.cosineTopKJoin(on3(vectors(6, 3)), on3(vectors(7, 5)),
      "vec_id", "embedding", 2).count() === 6)
  }

  test("rrfFuse strips its inputs' top-level global sorts, and only those") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 2, 3L), (1L, 1, 4L)).toDF("qid", "rn", "doc_id")
    def sorts(d: DataFrame): Int = d.queryExecution.analyzed.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.Sort => 1
    }.size
    val ordered = df.orderBy("qid", "rn").select(col("qid"), col("rn"),
      col("doc_id").as("d"))
    assert(sorts(org.apache.spark.sql.GraftPlans.withoutGlobalSort(ordered)) === 0)
    val limited = df.orderBy("rn").limit(1)
    assert(sorts(org.apache.spark.sql.GraftPlans.withoutGlobalSort(limited)) === 1,
      "a sort under a limit decides which rows survive")
    assert(GraftOps.rrfFuse(Seq(df.orderBy(desc("rn")), df), 5)
      .as[(Long, Int, Long, Double)].collect().toSeq ===
      Seq((1L, 1, 4L, 0.032787), (1L, 2, 3L, 0.032258)))
  }

  /** bm25 + ivf indexes over the same corpus, with `appends` ingest
    * batches appended to both. */
  private def hybridIndexes(appends: Int): (String, String) = {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    val bm = scratch("graft_jobs_bm_")
    val ivf = scratch("graft_jobs_ivf_")
    GraftOps.bm25IndexBuild(words(10, 40).toDF("doc_id", "text"), "doc_id",
      "text", bm, nBuckets = 4)
    GraftOps.ivfBuild(vectors(10, 40).toDF("vec_id", "embedding"), "vec_id",
      "embedding", ivf, nLists = 4)
    (1 to appends).foreach { b =>
      GraftOps.bm25IndexAppend(words(10 + b, 5).toDF("doc_id", "text"),
        "doc_id", "text", bm, Some(b.toLong))
      GraftOps.ivfAppend(vectors(10 + b, 5).toDF("vec_id", "embedding"),
        "vec_id", "embedding", ivf, Some(b.toLong))
    }
    (bm, ivf)
  }

  /** One hybrid query, the benchmark's shape: BM25 + IVF fused by RRF. */
  private def hybrid(bm: String, ivf: String): Int = {
    val s = spark
    import s.implicits._
    val lex = GraftOps.bm25AgainstCorpus(
      Seq((7L, Seq("w1", "w2", "w5"))).toDF("qid", "terms"), "qid", "terms",
      bm, 10)
    val dense = GraftOps.ivfSearch(
      Seq((7L, Array(0.3f, -0.1f, 0.2f, 0.4f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", ivf, 10)
      .select(col("qid"), col("rn"), col("vid").as("doc_id"))
    GraftOps.rrfFuse(Seq(lex, dense), 10).collect().length
  }

  test("a repeat hybrid query runs as many jobs over an index with 4 " +
    "appended segments as over a freshly built one") {
    val (bm0, ivf0) = hybridIndexes(0)
    val (bm4, ivf4) = hybridIndexes(4)
    hybrid(bm0, ivf0); hybrid(bm4, ivf4)
    val (n0, jobs0) = withJobCount(hybrid(bm0, ivf0))
    val (n4, jobs4) = withJobCount(hybrid(bm4, ivf4))
    assert(n0 > 0 && n4 > 0)
    assert(jobs4 === jobs0,
      s"repeat query: $jobs4 jobs over 4 appends vs $jobs0 over none")
  }

  test("a fresh hybrid query over a once-appended index runs at most 16 " +
    "Spark jobs") {
    val (bm, ivf) = hybridIndexes(1)
    val (n, jobs) = withJobCount(hybrid(bm, ivf))
    assert(n > 0)
    assert(jobs <= 16, s"fresh hybrid query ran $jobs jobs")
  }
}
