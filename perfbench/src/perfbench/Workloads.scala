package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{CurationPipeline, GraftOps, PortraitOps, TextAnalysis}
import graft.PerfbenchIndexStore
import graft.engine.Tables

/** One timed operation of a tick. `kind` is "step" (a day or an ingest
  * batch), "query" (a fresh query or lookup), "repeat" (a query re-sent
  * verbatim) or "maintain"; `rows` is the input rows it consumes; `observe`
  * runs after the timer stops, in the traced run only (per-layer
  * observations that must not cost the timed phase). */
final case class Op(kind: String, rows: Long, body: () => Unit,
    observe: () => Unit = () => ())

/** The outcome of a workload's output checks. */
final case class Checked(failures: Seq[String], dupRecall: Double,
    bytesPerInputByte: Double)

trait Workload {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val setupReps: Int = 1
  /** Fewest steps an untraced run times. */
  val minSteps: Int = 1
  /** One set-up repetition into the empty directory `dir`; the last
    * repetition's state is the one the timed phase uses. */
  def setup(dir: String): Unit
  /** Tick `i`'s operations. Input generation happens here, untimed. */
  def tick(i: Int): Seq[Op]
  /** Mark the start of the traced phase (for per-phase counters). */
  def tracedPhaseStarts(): Unit = ()
  /** Operations the traced run adds after its overhead measurement, to
    * time layers that short untraced runs do not reach on their own. */
  def stageOps(): Seq[Op] = Nil
  /** Check outputs after the timed phases. */
  def check(): Checked
  /** Per-layer observations that are not span timings. */
  def layerCounts(): Map[String, Double]
}

object Workloads {
  val Names = Seq("portrait_daily", "index_ingest_search")
  /** Floor for ivfSearch recall@10 against the exact cosine top-10. */
  val RecallFloor = 0.9

  def apply(name: String, spark: SparkSession, seed: Long, tr: Tracer,
      data: String): Workload = name match {
    case "portrait_daily" => new PortraitDaily(spark, seed, tr, data)
    case "index_ingest_search" => new IndexIngestSearch(spark, seed, tr)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Bytes and regular files under `dir`. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val it = Files.walk(p)
      try {
        var bytes = 0L; var files = 0L
        it.filter(Files.isRegularFile(_)).forEach { f =>
          bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally it.close()
    }
  }

  /** Order-independent digest of a key-unique (key, tags) frame. */
  def profileDigest(df: DataFrame, key: String): (Long, Long) = {
    val r = df.select(bit_xor(xxhash64(col(key),
      array_join(array_sort(col("tags")), ","))), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }
}

// ------------------------------------------------------------------------
/** Nightly user-portrait refresh over the sf0.1 star schema plus events
  * (`data`): the seed spreads the customers over `Gen.Days` day batches,
  * each holding its customers' orders and events. Per day, eight tag
  * models over the touched users, one profile upsert, one profile read;
  * each day is followed by portrait lookups (the serving read). */
final class PortraitDaily(spark: SparkSession, seed: Long, tr: Tracer,
    data: String) extends Workload {
  import spark.implicits._

  override val setupReps = 2
  override val minSteps = 2
  private var dir = ""
  private def profDir = s"$dir/profile"
  /** Per day: input rows, input bytes, touched users. */
  private var days = Map.empty[Int, (Long, Long, Array[Long])]
  /** Every tag frame upserted, in order. */
  private val tagFrames = mutable.ArrayBuffer.empty[DataFrame]
  private var inputBytes = 0L
  private var filesWritten = 0L
  private var upserts = 0L
  private val SessionGapNs = 30L * 60 * 1000000000L
  /** The day after the last sf0.1 order: the recency and RFM anchor. */
  private val Anchor = "2001-08-02"

  private def dayDir(day: Int) = s"$dir/days/d$day"

  def setup(d: String): Unit = {
    dir = d
    tagFrames.foreach(_.unpersist())
    tagFrames.clear()
    inputBytes = 0L; filesWritten = 0L; upserts = 0L
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      .map(s => (s"seg=$s", s"seg:${s.toLowerCase}"))
      .toDF("rule", "tag").write.parquet(s"$dir/seg_rules.parquet")
    Seq("lo=-1000##hi=0" -> "bal:negative", "lo=0##hi=2000" -> "bal:low",
      "lo=2000##hi=5000" -> "bal:mid", "lo=5000##hi=8000" -> "bal:high",
      "lo=8000##hi=10000" -> "bal:top")
      .toDF("rule", "tag").write.parquet(s"$dir/band_rules.parquet")
    // the seeded day assignment, applied with one partitioned write per
    // table; each day's partition then moves to its own directory, the
    // layout the engine's table readers expect
    val dayOf = Gen.dayOf(seed)
    val assign = broadcast(dayOf.indices.map(c => (c.toLong, dayOf(c)))
      .toDF("__key", "day"))
    def split(name: String, key: String): DataFrame = {
      val all = s"$dir/all/$name.parquet"
      tr.layer("tables.read")(Tables.t(spark, data, name))
        .join(assign, col(key) === col("__key")).drop("__key")
        .repartition(col("day")).write.partitionBy("day").parquet(all)
      spark.read.parquet(all).select(col(key).as("u"), col("day"))
    }
    val stats = split("orders", "o_custkey").union(split("events", "user_id"))
      .groupBy("day").agg(count(lit(1)), sort_array(collect_set($"u")))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Long](2)))
      .toMap
    days = (0 until Gen.Days).map { day =>
      Seq("orders", "events").foreach { name =>
        val dst = Paths.get(s"${dayDir(day)}/$name.parquet")
        Files.createDirectories(dst.getParent)
        Files.move(Paths.get(s"$dir/all/$name.parquet/day=$day"), dst)
      }
      val (rows, users) = stats(day)
      day -> ((rows, Workloads.du(dayDir(day))._1, users.toArray))
    }.toMap
  }

  def tick(i: Int): Seq[Op] = {
    require(i < Gen.Days, s"portrait_daily has ${Gen.Days} days, not ${i + 1}")
    Op("step", days(i)._1, () => runDay(i)) +:
      (0 until 6).map(q => Op("query", 20, () => lookup(i, q)))
  }

  private def runDay(day: Int): Unit = {
    val cust = tr.layer("tables.read")(Tables.customer(spark, data))
    val segRules = tr.layer("tables.read")(Tables.t(spark, dir, "seg_rules"))
    val bandRules = tr.layer("tables.read")(Tables.t(spark, dir, "band_rules"))
    val orders = tr.layer("tables.read")(Tables.orders(spark, dayDir(day)))
    val events = tr.layer("tables.read")(Tables.events(spark, dayDir(day)))
    val users = orders.select($"o_custkey".as("user_id"))
      .union(events.select($"user_id"))
    val custT = cust.join(users, cust("c_custkey") === users("user_id"),
      "left_semi")
    def tagOf(df: DataFrame, key: String, tag: org.apache.spark.sql.Column) =
      df.select(col(key).as("user_id"), tag.as("tag"))
    val seg = tr.layer("portrait_ops.rule_match")(
      PortraitOps.ruleMatch(custT, "c_mktsegment", "seg", segRules))
    val band = tr.layer("portrait_ops.range_band")(
      PortraitOps.rangeBand(custT, "c_acctbal", bandRules))
    val prio = tr.layer("portrait_ops.most_frequent")(
      PortraitOps.mostFrequent(orders, "o_custkey", "o_orderpriority"))
    val rec = tr.layer("portrait_ops.recency_bands")(
      PortraitOps.recencyBands(orders, "o_custkey", "o_orderdate", Anchor,
        Seq("hot" -> 90, "warm" -> 365, "cool" -> 1095), "cold"))
    val rfm = tr.layer("portrait_ops.rfm")(
      PortraitOps.rfmScored(orders, "o_custkey", "o_orderdate",
        "o_totalprice", Anchor))
    val funnel = tr.layer("portrait_ops.funnel")(
      PortraitOps.funnelSteps(events, "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase")))
    val sess = tr.layer("portrait_ops.sessionize")(
      PortraitOps.sessionize(events, "user_id", "ts", "event_id", SessionGapNs))
    val cohorts = tr.span("portrait_ops.retention")(
      PortraitOps.retentionCohorts(events, "user_id", "ts2", 1).collect())
    require(cohorts.nonEmpty, s"day $day: no retention cohorts")
    val tags = Seq(
      tagOf(seg, "c_custkey", col("tag")),
      tagOf(band, "c_custkey", col("tag")),
      tagOf(prio, "o_custkey", concat(lit("prio:"), col("top_value"))),
      tagOf(rec, "o_custkey", concat(lit("recency:"), col("band"))),
      tagOf(rfm, "o_custkey", concat(lit("rfm:"), col("r_score"),
        col("f_score"), col("m_score"))),
      tagOf(funnel, "user_id", concat(lit("funnel:"), col("level"))),
      sess.groupBy("user_id").agg(max("session_id").as("n"))
        .select(col("user_id"),
          concat(lit("sessions:"), least(col("n"), lit(5L))).as("tag"))
    ).reduce(_ unionByName _)
      .groupBy("user_id").agg(array_sort(collect_set("tag")).as("tags"))
      .cache()
    tagFrames += tags
    val before = Workloads.du(profDir)._2
    tr.span("portrait_ops.upsert")(
      PortraitOps.profileUpsert(spark, profDir, tags, "user_id"))
    filesWritten += math.max(0L, Workloads.du(profDir)._2 - before)
    upserts += 1
    val n = tr.span("portrait_ops.read")(
      PortraitOps.profileRead(spark, profDir).count())
    require(n > 0, "empty profile after upsert")
    if (upserts % 4 == 0)
      tr.span("portrait_ops.vacuum")(PortraitOps.profileVacuum(spark, profDir))
    inputBytes += days(day)._2
  }

  /** A portrait lookup: 20 seeded users of a seeded day processed so far. */
  private def lookup(i: Int, q: Int): Unit = {
    val r = Gen.rng(seed, 77, i, q)
    val touched = days(r.nextInt(i + 1))._3
    val keys = Seq.fill(20)(touched(r.nextInt(touched.length))).distinct
    val got = tr.layer("portrait_ops.lookup")(
      PortraitOps.profileRead(spark, profDir).filter($"user_id".isin(keys: _*)))
      .collect()
    require(got.length == keys.size,
      s"lookup returned ${got.length} of ${keys.size} profiles")
  }

  def check(): Checked = {
    val fails = mutable.ArrayBuffer.empty[String]
    val profile = PortraitOps.profileRead(spark, profDir)
    var fold = tagFrames.head
    tagFrames.tail.zipWithIndex.foreach { case (t, k) =>
      fold = PortraitOps.profileMergeTags(fold, t, "user_id")
      if (k % 8 == 7) fold = fold.localCheckpoint(true)
    }
    val got = Workloads.profileDigest(profile, "user_id")
    val want = Workloads.profileDigest(fold, "user_id")
    if (got != want)
      fails += s"profile after ${tagFrames.size} upserts $got != one-shot fold $want"
    val residual = profile.select(
      sum(size(col("tags")) - size(array_distinct(col("tags"))))).head().getLong(0)
    if (residual != 0) fails += s"$residual duplicate tags in the profile"
    tagFrames.foreach(_.unpersist())
    // every customer lands in one day, so no batch re-delivers a tag: no
    // duplicates are planted and none may appear
    Checked(fails.toSeq, if (residual == 0) 1.0 else 0.0,
      Workloads.du(profDir)._1.toDouble / math.max(1L, inputBytes))
  }

  def layerCounts(): Map[String, Double] = Map(
    "portrait_ops.files_written" -> filesWritten.toDouble / math.max(1L, upserts))
}

// ------------------------------------------------------------------------
/** Incremental ingest beside search over persisted indexes. A tick is one
  * ingest batch (curateIncremental against the fingerprint and digest
  * indexes, PII scrub, then BM25 and IVF appends), followed by
  * `FreshPerBatch` single hybrid queries (BM25 + IVF + reciprocal-rank
  * fusion) and `RepeatsPerBatch` seeded verbatim repeats of them; after
  * every `CompactEvery`-th batch all four indexes are compacted and
  * vacuumed. */
final class IndexIngestSearch(spark: SparkSession, seed: Long, tr: Tracer)
    extends Workload {
  import spark.implicits._

  private var dir = ""
  private def fp = s"$dir/idx/fingerprint"
  private def dg = s"$dir/idx/digest"
  private def bm = s"$dir/idx/bm25"
  private def ivf = s"$dir/idx/ivf"
  private def indexes = Seq(fp, dg, bm, ivf)
  private val CompactEvery = 2
  private val FreshPerBatch = 3
  private val RepeatsPerBatch = 1
  /** Index buckets: a few per core, for a corpus of a few thousand
    * documents. */
  private val Buckets = 8
  private var ingests = 0
  private val survivors = mutable.ArrayBuffer.empty[Long]
  private val planted = mutable.ArrayBuffer.empty[Long]
  private var inputBytes = 0L
  private val liveSegments = mutable.ArrayBuffer.empty[Double]
  private var versionsAtTrace = Map.empty[String, Int]
  private var lastRecall = 0.0
  private def version(d: String): Int =
    PerfbenchIndexStore.version(spark, d).getOrElse(0)

  def setup(d: String): Unit = {
    dir = d
    val (docs, vecs) = Gen.history(seed)
    docs.toDS().write.parquet(s"$dir/history/documents.parquet")
    vecs.toDS().write.parquet(s"$dir/history/embeddings.parquet")
    inputBytes = Workloads.du(s"$dir/history")._1
    val h = Tables.documents(spark, s"$dir/history")
    GraftOps.fingerprintBuild(h, "doc_id", "text", fp)
    GraftOps.digestIndexBuild(h, "text", dg, nBuckets = Buckets)
    GraftOps.bm25IndexBuild(TextAnalysis.piiScrub(h, "doc_id", "text"),
      "doc_id", "scrubbed", bm, nBuckets = Buckets)
    GraftOps.ivfBuild(Tables.embeddings(spark, s"$dir/history"), "vec_id",
      "embedding", ivf, nLists = 16)
  }

  private def batchDir(b: Int) = s"$dir/batches/b$b"

  /** Writes ingest batch `b`'s inputs; returns its planted duplicates. */
  private def prepareBatch(b: Int): Int = {
    val ib = Gen.ingestBatch(seed, b)
    ib.docs.toDS().write.parquet(s"${batchDir(b)}/documents.parquet")
    ib.vecs.toDS().write.parquet(s"${batchDir(b)}/embeddings.parquet")
    inputBytes += Workloads.du(batchDir(b))._1
    planted ++= ib.plantedDups
    ib.docs.size
  }

  private def nextBatch(): Int = { ingests += 1; ingests - 1 }

  def tick(i: Int): Seq[Op] = {
    val b = nextBatch()
    val rows = prepareBatch(b)
    val fresh = (0 until FreshPerBatch).map(q =>
      Gen.query(seed, b.toLong * FreshPerBatch + q))
    (Op("step", rows, () => ingest(b, staged = false)) +:
      fresh.map { case (q, v) =>
        Op("query", 1, () => query(q, v), () => observeSegments()) }) ++
      (0 until RepeatsPerBatch).map { r =>
        val (q, v) = fresh(Gen.repeatOf(seed, b, r, FreshPerBatch))
        Op("repeat", 1, () => query(q, v))
      } ++
      (if (b % CompactEvery == CompactEvery - 1)
        Seq(Op("maintain", 0, () => maintain())) else Nil)
  }

  /** One ingest batch through curateIncremental's stages called one by
    * one, then compaction, which a one-tick run does not reach. */
  override def stageOps(): Seq[Op] = {
    val b = nextBatch()
    val rows = prepareBatch(b)
    Seq(Op("stages", rows, () => ingest(b, staged = true)),
      Op("maintain", 0, () => maintain()))
  }

  /** curateIncremental's stages called one by one through the public
    * against-history operators, to time each stage. It is close to, not
    * the same as, curateIncremental: dedupExactAgainstCorpus also drops
    * exact copies inside the batch, and the batch is sketched twice. */
  private def ingestStages(fresh: DataFrame): DataFrame = {
    val gated = tr.layer("text_analysis.gate")(
      TextAnalysis.withRepetitionMetrics(fresh, "text")
        .filter(col("__rep_keep") === 1)
        .drop(TextAnalysis.RepetitionMetricCols: _*))
    val novel = tr.layer("graft_ops.exact_vs_history")(
      GraftOps.dedupExactAgainstCorpus(gated, "doc_id", "text", "score", dg))
    val kept = tr.layer("graft_ops.near_vs_history")(
      GraftOps.dedupNearAgainstCorpus(novel, "doc_id", "text", fp))
    tr.span("graft_ops.fingerprint_append")(
      GraftOps.fingerprintAppend(novel, "doc_id", "text", fp))
    tr.span("graft_ops.digest_append")(
      GraftOps.digestIndexAppend(novel, "text", dg))
    kept
  }

  private def ingest(b: Int, staged: Boolean): Unit = {
    val fresh = tr.layer("tables.read")(Tables.documents(spark, batchDir(b)))
    val vecs = tr.layer("tables.read")(Tables.embeddings(spark, batchDir(b)))
    val kept =
      if (staged) ingestStages(fresh)
      else tr.layer("curation_pipeline.curate_incremental")(
        CurationPipeline.curateIncremental(fresh, "doc_id", "text", fp,
          digestDir = Some(dg), batchId = Some(b.toLong)))
    survivors ++= kept.select("doc_id").as[Long].collect()
    // search serves PII-scrubbed text
    val scrubbed = tr.layer("text_analysis.pii_scrub")(
      TextAnalysis.piiScrub(kept, "doc_id", "text"))
    tr.span("graft_ops.bm25_append")(
      GraftOps.bm25IndexAppend(scrubbed, "doc_id", "scrubbed", bm, Some(b.toLong)))
    tr.span("graft_ops.ivf_append")(
      GraftOps.ivfAppend(vecs.join(kept.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi"), "vec_id", "embedding", ivf, Some(b.toLong)))
  }

  private def maintain(): Unit = {
    tr.span("graft_ops.compact") {
      GraftOps.fingerprintCompact(spark, fp)
      GraftOps.digestIndexCompact(spark, dg)
      GraftOps.bm25IndexCompact(spark, bm)
      GraftOps.ivfCompact(spark, ivf)
    }
    tr.span("graft_ops.vacuum")(indexes.foreach(GraftOps.indexVacuum(spark, _)))
  }

  private def query(q: Gen.Query, v: Gen.Vec): Unit = {
    val versions = tr.span("index_store.resolve")(
      Seq(bm, ivf).map(PerfbenchIndexStore.version(spark, _)))
    require(versions.forall(_.isDefined), "search index missing")
    val lex = tr.layer("graft_ops.bm25_search")(
      GraftOps.bm25AgainstCorpus(Seq(q).toDF(), "qid", "terms", bm, 10))
    val dense = tr.layer("graft_ops.ivf_search")(
      GraftOps.ivfSearch(Seq(v).toDF(), "vec_id", "embedding", ivf, 10))
      .select(col("qid"), col("rn"), col("vid").as("doc_id"))
    val fused = tr.layer("graft_ops.rrf_fuse")(
      GraftOps.rrfFuse(Seq(lex, dense), 10)).collect()
    require(fused.nonEmpty && fused.length <= 10 &&
      fused.forall(_.getAs[Long]("qid") == q.qid),
      s"hybrid search gave ${fused.length} results for query ${q.qid}")
  }

  private def observeSegments(): Unit =
    liveSegments += Seq(bm, ivf).map(d => GraftOps.describeIndex(spark, d)
      .agg(sum("segments")).head().getLong(0)).sum.toDouble

  override def tracedPhaseStarts(): Unit =
    versionsAtTrace = indexes.map(d => d -> version(d)).toMap

  def check(): Checked = {
    val fails = mutable.ArrayBuffer.empty[String]
    // incremental survivors == one-shot dedup of every batch against a
    // history-only fingerprint index
    val reference = s"$dir/idx/reference"
    GraftOps.fingerprintBuild(Tables.documents(spark, s"$dir/history"),
      "doc_id", "text", reference)
    val all = (0 until ingests).map(b => Tables.documents(spark, batchDir(b)))
      .reduce(_ unionByName _)
    val oneShot = CurationPipeline.curateIncremental(all, "doc_id", "text",
      reference, appendToIndex = false).select("doc_id").as[Long].collect().toSet
    if (oneShot != survivors.toSet)
      fails += s"incremental survivors (${survivors.size}) != one-shot " +
        s"(${oneShot.size}); differ on ${(oneShot diff survivors.toSet).size + (survivors.toSet diff oneShot).size} ids"
    if (survivors.distinct.size != survivors.size)
      fails += "a document survived two batches"
    val recall = recallAt10()
    if (recall < Workloads.RecallFloor)
      fails += f"ivfSearch recall@10 $recall%.4f below the floor ${Workloads.RecallFloor}"
    val kept = survivors.toSet
    val dupRecall = planted.count(p => !kept(p)).toDouble / math.max(1, planted.size)
    lastRecall = recall
    Checked(fails.toSeq, dupRecall,
      indexes.map(d => Workloads.du(d)._1).sum.toDouble / inputBytes)
  }

  /** Mean top-10 overlap of ivfSearch with the exact cosine top-10 over the
    * live vectors, for 96 fresh queries. */
  private def recallAt10(): Double = {
    val qv = (0 until 96).map(j => Gen.query(seed, 1000000L + j)._2).toDF()
    val live = (Tables.embeddings(spark, s"$dir/history") +:
      (0 until ingests).map(b => Tables.embeddings(spark, batchDir(b))))
      .reduce(_ unionByName _)
      .join(survivors.toSeq.toDF("vec_id").unionByName(
        Gen.history(seed)._1.map(_.doc_id).toDF("vec_id")), Seq("vec_id"),
        "left_semi")
    def lists(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("qid"), col("vid")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val exact = lists(GraftOps.cosineTopKJoin(qv, live, "vec_id", "embedding", 10))
    val approx = lists(GraftOps.ivfSearch(qv, "vec_id", "embedding", ivf, 10))
    exact.map { case (q, e) => approx.getOrElse(q, Set.empty).intersect(e).size
      .toDouble / e.size }.sum / exact.size
  }

  def layerCounts(): Map[String, Double] = {
    val disk = indexes.map(Workloads.du)
    Map(
      "index_store.live_segments" ->
        (if (liveSegments.isEmpty) 0.0 else liveSegments.sum / liveSegments.size),
      "index_store.commits" -> indexes.map(d =>
        version(d) - versionsAtTrace.getOrElse(d, 0)).sum.toDouble,
      "index_store.bytes_on_disk" -> disk.map(_._1).sum.toDouble,
      "index_store.files_on_disk" -> disk.map(_._2).sum.toDouble,
      "graft_ops.recall_at_10" -> lastRecall)
  }
}
