package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SparkTestBase

/** Mechanical pin of the IN-COMMIT replay gate (the zombie-writer
  * hole): the outer pre-commit watermark check can pass on a stale
  * read when two drivers replay the same micro-batch, so the gate
  * re-runs inside the commit callback against the base snapshot
  * resolved UNDER the claim. This spec drives that component directly:
  * a callback whose base already records the batchId must abort before
  * writing anything — no manifest version published, the claim
  * released so the chain stays writable — and [[GraftOps.swallowReplay]]
  * must turn the abort into the documented no-op. A second table-driven
  * case replays every batch-driven append and retract: the second call
  * with the same batchId must publish nothing. */
class ReplayGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a commit callback whose base snapshot already records this " +
    "batchId aborts before writing: no version published, claim " +
    "released, the next legitimate commit proceeds") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_").toString
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("id", "txt")
    GraftOps.bm25IndexBuild(docs, "id", "txt", dir, nBuckets = 8)
    GraftOps.bm25IndexAppend(Seq((3L, "c d")).toDF("id", "txt"),
      "id", "txt", dir, batchId = Some(7L))
    val vBefore = IndexStore.resolve(s, dir).get.version
    // the zombie writer's commit: its outer check (not modeled here)
    // passed on a stale snapshot; the in-commit gate sees the
    // authoritative base and must abort
    var reachedWrite = false
    GraftOps.swallowReplay(
      IndexStore.commitWithRetry(s, dir, "replayGateSpec") { (baseOpt, _) =>
        GraftOps.skipIfReplayed(baseOpt.get, Some(7L), "replayGateSpec",
          negate = false)
        reachedWrite = true
        (baseOpt.get.tables, baseOpt.get.props)
      })
    assert(!reachedWrite,
      "the gate must abort the callback before any segment write")
    assert(IndexStore.resolve(s, dir).get.version === vBefore,
      "an aborted replay commit must publish nothing")
    // the claim was released by the commit failure path: the next
    // legitimate batch commits at the very version the abort vacated
    GraftOps.bm25IndexAppend(Seq((4L, "d e")).toDF("id", "txt"),
      "id", "txt", dir, batchId = Some(8L))
    val after = IndexStore.resolve(s, dir).get
    assert(after.version === vBefore + 1, "the chain stays writable")
    assert(after.props("last_batch") === "8")
    // and the retract-side gate takes the separate last_retract key
    GraftOps.bm25IndexRetract(Seq((3L, "c d")).toDF("id", "txt"),
      "id", "txt", dir, batchId = Some(9L))
    val v2 = IndexStore.resolve(s, dir).get.version
    var reachedRetract = false
    GraftOps.swallowReplay(
      IndexStore.commitWithRetry(s, dir, "replayGateSpec") { (baseOpt, _) =>
        GraftOps.skipIfReplayed(baseOpt.get, Some(9L), "replayGateSpec",
          negate = true)
        reachedRetract = true
        (baseOpt.get.tables, baseOpt.get.props)
      })
    assert(!reachedRetract && IndexStore.resolve(s, dir).get.version === v2)
  }

  test("every batch-driven append and retract is a no-op when called a " +
    "second time with the same batchId: no version published, every " +
    "table's rows unchanged") {
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(s)
    def words(seed: Int, n: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i => (seed * 1000L + i,
        Seq.fill(3 + rnd.nextInt(6))(s"w${rnd.nextInt(24)}").mkString(" ")))
        .toDF("doc_id", "text")
    }
    def vectors(seed: Int, n: Int): DataFrame = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i => (seed * 1000L + i,
        Array.fill(4)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    }
    val docs = words(1, 12)
    val more = words(2, 4)
    val labeled = docs.withColumn("label", (col("doc_id") % 2).cast("int"))
    val labeledMore = more.withColumn("label", (col("doc_id") % 2).cast("int"))
    val emb = vectors(1, 16)
    val embMore = vectors(2, 4)
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("x", "y")
    def fpBuild(d: String): Unit =
      GraftOps.fingerprintBuild(docs, "doc_id", "text", d, nHashes = 16,
        bands = 4)
    def srpBuild(d: String): Unit =
      GraftOps.srpIndexBuild(emb, "vec_id", "embedding", d, dim = 4)
    def dgBuild(d: String): Unit =
      GraftOps.digestIndexBuild(docs, "text", d, nBuckets = 4)
    def bmBuild(d: String): Unit =
      GraftOps.bm25IndexBuild(docs, "doc_id", "text", d, nBuckets = 4)
    def ivfBuild(d: String): Unit =
      GraftOps.ivfBuild(emb, "vec_id", "embedding", d, nLists = 2)
    def pqBuild(d: String): Unit =
      GraftOps.ivfPqBuild(emb, "vec_id", "embedding", d, nLists = 2, m = 2,
        ksub = 4)
    def clBuild(d: String): Unit =
      GraftOps.clusterIndexBuild(edges, "x", "y", d, nBuckets = 4)
    def clfBuild(d: String): Unit =
      TextAnalysis.clfStoreBuild(labeled, "doc_id", "text", "label", d,
        numFeatures = 16)
    // (name, build, the batch-driven delta under test)
    val cases: Seq[(String, String => Unit, (String, Long) => Unit)] = Seq(
      ("bm25IndexAppend", bmBuild, (d, b) =>
        GraftOps.bm25IndexAppend(more, "doc_id", "text", d, Some(b))),
      ("bm25IndexRetract", bmBuild, (d, b) =>
        GraftOps.bm25IndexRetract(docs.limit(2), "doc_id", "text", d,
          Some(b))),
      ("clfStoreAppend", clfBuild, (d, b) =>
        TextAnalysis.clfStoreAppend(labeledMore, "doc_id", "text", "label", d,
          Some(b))),
      ("clfStoreRetract", clfBuild, (d, b) =>
        TextAnalysis.clfStoreRetract(labeled.limit(2), "doc_id", "text",
          "label", d, Some(b))),
      ("ivfAppend", ivfBuild, (d, b) =>
        GraftOps.ivfAppend(embMore, "vec_id", "embedding", d, Some(b))),
      ("ivfRetract", ivfBuild, (d, b) =>
        GraftOps.ivfRetract(emb.limit(2), "vec_id", d, Some(b))),
      ("ivfPqAppend", pqBuild, (d, b) =>
        GraftOps.ivfPqAppend(embMore, "vec_id", "embedding", d, Some(b))),
      ("ivfPqRetract", pqBuild, (d, b) =>
        GraftOps.ivfPqRetract(emb.limit(2), "vec_id", d, Some(b))),
      ("fingerprintAppend", fpBuild, (d, b) => {
        val snap = IndexStore.resolve(s, d).get
        GraftOps.fingerprintAppendSketch(
          GraftOps.indexSketch(more, "doc_id", "text", snap), snap, d,
          Some(b))
      }),
      ("fingerprintRetract", fpBuild, (d, b) =>
        GraftOps.fingerprintRetract(docs.limit(2), "doc_id", d, Some(b))),
      ("srpIndexAppend", srpBuild, (d, b) => {
        val snap = IndexStore.resolve(s, d).get
        GraftOps.srpIndexAppendSketch(
          GraftOps.srpIndexSketch(embMore, "vec_id", "embedding", snap,
            "replaySpec"), snap, d, Some(b))
      }),
      ("srpIndexRetract", srpBuild, (d, b) =>
        GraftOps.srpIndexRetract(emb.limit(2), "vec_id", d, Some(b))),
      ("digestIndexAppend", dgBuild, (d, b) =>
        GraftOps.digestAppendDigests(
          more.select(md5(col("text")).as("digest")).distinct(), d,
          Some(b))),
      ("digestIndexRetract", dgBuild, (d, b) =>
        GraftOps.digestIndexRetract(docs.limit(2), "text", d, Some(b))),
      ("dsirStatsAppend", d =>
        GraftOps.dsirStatsBuild(docs, "doc_id", "text", more, "text", d,
          nBuckets = 4), (d, b) =>
        GraftOps.dsirStatsAppend(more, "doc_id", "text", d,
          batchId = Some(b))),
      ("lmStatsAppend", d =>
        GraftOps.lmStatsBuild(docs, "text", d, nBuckets = 4), (d, b) =>
        GraftOps.lmStatsAppend(more, "text", d, Some(b))),
      ("clusterIndexAppend", clBuild, (d, b) =>
        GraftOps.clusterIndexAppend(Seq((3L, 4L)).toDF("x", "y"), "x", "y",
          d, Some(b))),
      ("clusterRetract", clBuild, (d, b) =>
        GraftOps.clusterRetract(Seq(Tuple1(2L)).toDF("node"), "node", d,
          Some(b))),
      ("vocabStoreAppendTokens", d =>
        TextAnalysis.vocabStoreBuild(docs, "text",
          TextAnalysis.bpeTrain(docs, "text", 4, method = "local"), d),
        (d, b) => TextAnalysis.vocabStoreAppendTokens(s, Seq("<unk>"), d,
          Some(b))))
    def rows(d: String): Map[String, Seq[String]] = {
      val snap = IndexStore.resolve(s, d).get
      snap.tables.keys.map(t => t -> IndexStore.readTable(s, d, snap, t)
        .collect().map(_.toString).toSeq.sorted).toMap
    }
    cases.foreach { case (name, build, delta) =>
      val d = java.nio.file.Files.createTempDirectory("graft_replay_")
        .toString
      build(d)
      delta(d, 5L)
      val first = IndexStore.resolve(s, d).get
      assert(first.version === 2, s"$name: the first call commits once")
      val before = rows(d)
      delta(d, 5L)
      assert(IndexStore.resolve(s, d).get.version === first.version,
        s"$name: a replayed batchId published a version")
      assert(rows(d) === before, s"$name: a replayed batchId changed rows")
    }
  }
}
