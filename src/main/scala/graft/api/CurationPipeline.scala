package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation capstone: the composition every
  * training-data pipeline writes by hand, as one call —
  *
  *  1. QUALITY GATE: [[TextAnalysis.repetitionStats]] keep bit (Gopher-style
  *     repetition dials) — an in-row projection, so the corpus shrinks
  *     BEFORE anything that shuffles;
  *  2. EXACT DEDUP: [[GraftOps.exactDedupKeepBest]] — the best-`scoreCol`
  *     row per byte-identical group survives;
  *  3. NEAR-DUP REDUCTION: [[GraftOps.ngramJaccardPairs]] (exact,
  *     prefix-filtered) → [[GraftOps.connectedComponents]] →
  *     [[GraftOps.dedupApply]] — one best-scored survivor per near-dup
  *     cluster, singletons pass through;
  *  4. SPLIT: [[GraftOps.hashSplit]] — deterministic, append-stable
  *     train/val/test assignment.
  *
  * Stage order is the scale argument: the zero-shuffle quality gate runs
  * first so the quadratic-adjacent near-dup stage sees only survivors; the
  * pair generator stays an equi-join (recall 1.0) and the cluster
  * reduction is an aggregate, not a window. Every stage is the already-
  * oracle-checked operator, so the composition's oracle is mechanical CTE
  * chaining. Returns the surviving rows with all of `docs`' columns plus
  * `cluster`, `cluster_size`, and `split`. */
object CurationPipeline {

  def curate(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String,
      maxDupWordFrac: Double = 0.6, maxTopWordRatio: Double = 0.2,
      maxDupBigramFrac: Double = 0.4,
      n: Int = 3, minPct: Int = 60,
      weights: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    // the gate is filter + drop over in-row metrics — no semi-join back
    // to the corpus, nothing shuffles before the survivors shrink
    val kept = TextAnalysis.withRepetitionMetrics(docs, textCol,
        maxDupWordFrac, maxTopWordRatio, maxDupBigramFrac)
      .filter(col("__rep_keep") === 1)
      .drop(TextAnalysis.RepetitionMetricCols: _*)
    // exact dedup as ONE aggregation over full rows (exactDedupRows):
    // no keeper semi-join back to the corpus, so the gate's per-row HOF
    // metrics run exactly once — a second consumer of `kept` would cost
    // a full corpus scan per pass at 100 TB (a broadcast semi-join would
    // dedupe the metric pass at bench scale but cannot broadcast
    // billions of surviving ids at real scale). The SURVIVOR set then
    // materializes once (eager localCheckpoint) for the near-dup pair
    // pipeline + dedupApply fan-out; localCheckpoint rather than
    // persist() so blocks release when the frame is garbage-collected —
    // repeated curate() calls never accumulate pinned cache entries.
    // (curate was already eager: connectedComponents' propagation runs
    // jobs at call time regardless.) The checkpoint is LAZY: the first
    // consumer's job populates the blocks as it computes (persist-style
    // piggyback — an eager checkpoint would spend a separate
    // materialization pass first), and every later consumer reads blocks.
    // FAULT-TOLERANCE CONTRACT (applies to every lazy-localCheckpoint
    // fan-out in this library — jaccardPairs, boilerplateNgrams,
    // contaminationReport share it): a local checkpoint TRUNCATES
    // lineage, so its blocks are NOT recomputed if their executor dies —
    // the consuming action fails and the CALLER RETRIES the operator
    // (each call rebuilds from source). Under aggressive dynamic
    // allocation / decommissioning, schedule these jobs with retries or
    // swap the fan-out point for persist() + explicit unpersist if a
    // mid-job executor loss must be survivable in place.
    val deduped = GraftOps.exactDedupRows(kept, idCol, textCol, scoreCol)
      .localCheckpoint(false)
    val pairs = GraftOps.ngramJaccardPairs(deduped, idCol, textCol, n, minPct)
    val comp = GraftOps.connectedComponents(pairs, "d1", "d2")
    GraftOps.hashSplit(
      GraftOps.dedupApply(deduped, idCol, comp, Some(scoreCol)), idCol, weights)
  }

  /** The INCREMENTAL prefix of [[curate]] — the stages that are
    * stream-safe without cross-batch pair state — as one Structured
    * Streaming transformation (works identically on a batch frame; the
    * spec asserts the twins agree):
    *
    *  1. QUALITY GATE: [[TextAnalysis.withRepetitionMetrics]] keep bit —
    *     a stateless in-row projection, legal in Append mode with no
    *     watermark, so the stream shrinks before anything stateful;
    *  2. EXACT DEDUP: `dropDuplicatesWithinWatermark` on the md5 content
    *     hash — byte-identical documents arriving within the watermark
    *     are dropped with BOUNDED state (hashes expire as the watermark
    *     on `tsCol` advances). The streaming twin of
    *     [[GraftOps.exactDedupKeepBest]]: the FIRST-ARRIVING copy
    *     survives — byte-identical text has identical quality metrics,
    *     so arrival order only decides which id is carried.
    *
    * The near-dup/cluster/split TAIL stays a batch stage (the pair join
    * needs the whole corpus): append survivors via `foreachBatch` (or a
    * file sink) and run [[curate]] over the accumulated survivor table
    * per snapshot — on already-gated, already-deduped survivors its
    * first two stages are no-ops, so the composition equals the one-shot
    * batch curate (spec-pinned). Emits the caller's columns, gated and
    * deduped. */
  def curateStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour",
      maxDupWordFrac: Double = 0.6, maxTopWordRatio: Double = 0.2,
      maxDupBigramFrac: Double = 0.4,
      idCol: Option[String] = None): DataFrame = {
    val gated = TextAnalysis.withRepetitionMetrics(docs, textCol,
        maxDupWordFrac, maxTopWordRatio, maxDupBigramFrac)
      .filter(col("__rep_keep") === 1)
      .drop(TextAnalysis.RepetitionMetricCols: _*)
      .withColumn("__content", md5(col(textCol)))
    // dropDuplicatesWithinWatermark is streaming-only in Spark (the
    // analyzer rejects it on batch plans), so the batch twin dedups
    // without the watermark bound — same survivors, no state to expire.
    // `idCol` makes the BATCH twin deterministic: the survivor per
    // content hash is the (earliest tsCol, then smallest id) row — the
    // arrival-order analog of the stream's first-arriving-wins. Without
    // it a batch frame has no total order and dropDuplicates keeps an
    // arbitrary row (fine for the stream, whose arrival order IS the
    // tiebreak; pass the id when batch replays must be reproducible).
    val deduped =
      if (docs.isStreaming)
        gated.withWatermark(tsCol, watermark)
          .dropDuplicatesWithinWatermark(Seq("__content"))
      else idCol match {
        case None => gated.dropDuplicates(Seq("__content"))
        case Some(id) =>
          gated.groupBy(col("__content"))
            .agg(min_by(struct(gated.columns.map(col): _*),
              struct(col(tsCol), col(id))).as("__best"))
            .select(col("__best.*"))
      }
    deduped.drop("__content")
  }

  /** One incremental-curation STEP against persistent history — what a
    * production pipeline runs on every arriving batch (and the
    * against-history stage [[curateStream]] explicitly leaves to batch
    * land): QUALITY GATE (in-row, the batch shrinks first) → NEAR-dup
    * dedup against the [[GraftOps.fingerprintBuild]] index at
    * `indexDir` (history wins; smaller id wins within the batch; exact
    * duplicates are the J = 1 special case and at the default
    * `maxBucketSize = None` identical docs are GUARANTEED caught — equal
    * token sets sketch identically, so every band collides; a cap can
    * drop a hot template group's every bucket, see
    * [[GraftOps.dedupNearAgainstCorpus]]'s trade note) → register the
    * gated batch's fingerprints in the
    * index (survivors AND near-dup drops alike, per
    * [[GraftOps.dedupNearAgainstCorpus]]'s composition contract;
    * gate-FAILED docs are never indexed — they are not corpus members
    * and future copies of them fail the same in-row gate anyway).
    * Returns the surviving rows with all their columns.
    *
    * For batches arriving in nondecreasing id order this step composes:
    * step-per-batch ≡ gate + one-shot near-dedup of the concatenated
    * batches (spec-pinned, including through a foreachBatch streaming
    * sink). EAGER by design, twice over: the survivor set is pinned
    * (local checkpoint) BEFORE the index mutates — the returned frame
    * must not lazily re-read an index that now contains the batch
    * itself — and the append then runs at call time. `appendToIndex =
    * false` gives the read-only dry run (lazy, nothing pinned).
    *
    * foreachBatch REPLAY idempotence (at-least-once sinks) is
    * MECHANIZED through `batchId`: pass the engine's micro-batch id and
    * the append records it in the index manifest (`last_batch`, plus
    * `last_batch_base` — the pre-append manifest version). If the
    * engine replays a batch whose append already committed (crash
    * between this call and the sink's checkpoint commit), the step
    * detects `batchId` at the recorded watermark, RE-DERIVES the first
    * attempt's survivors exactly — same gate, same sketch, dedup
    * against the recorded PRE-append snapshot (without the time travel
    * the replayed docs would meet their own fingerprints and all
    * drop) — and skips the second append. Batch ids below the
    * watermark fail loudly (two writers on one index); without
    * `batchId` the caller owns the replay story, as before.
    * [[GraftOps.indexVacuum]] retains the pre-append manifest — the
    * replay's time-travel record — by construction, so vacuums may
    * run on any schedule, including a cron between the crash and the
    * replay.
    *
    * `digestDir` composes a [[GraftOps.digestIndexBuild]] EXACT
    * pre-filter in front of the near-dup stage: rows whose content
    * digest already exists in that index drop via a bucket-pruned
    * anti-join BEFORE the batch is sketched — exact re-ingests (the
    * common case in crawl refreshes) never pay minhash + band-join
    * cost. Same survivors as the un-composed step when the two indexes
    * cover the same corpus (spec-pinned): an exact dup is the J = 1
    * near-dup the band join catches anyway (GUARANTEED at
    * `maxBucketSize = None`; with a cap the composed step can only
    * drop MORE — digest lookup has no bucket-occupancy trade). The
    * pair stays consistent because this step maintains both: the
    * pre-filtered batch's fingerprints AND its distinct digests append
    * together (near-dup drops included, both sides; exact-dropped rows
    * are byte-identical to an already-indexed doc, so their sketch and
    * digest are both present via it). Build the pair over the same
    * corpus ([[GraftOps.fingerprintBuild]] + digestIndexBuild). Crash
    * recovery needs no cross-index transaction: each index recovers
    * through its OWN `batchId` watermark (the two-index contract the
    * streaming spec pins) — a replay skips whichever append already
    * committed, re-derives survivors against each index's recorded
    * pre-append snapshot, and performs only the missing append.
    *
    * REMOVALS (a crawl refresh's `removed`/`changed` work-list,
    * [[GraftOps.corpusDiff]]) are not this step's input — they route
    * through the indexes' retract operations on the same pair this
    * step maintains: [[GraftOps.fingerprintRetract]] by id (and, for
    * `changed`, re-ingest the refreshed content through THIS step) and
    * [[GraftOps.digestIndexRetract]] by old content digest, each with
    * its own `last_retract` replay watermark so a retract-then-curate
    * micro-batch converges on crash replay. The worked example is
    * `graft.tools.CorpusBuild` steps 3–5.
    *
    * `dsirStatsDir` composes a DISTRIBUTION gate in front of the dedup
    * stages — the incremental twin of `CorpusBuild` step 0's one-shot
    * intake gate: the rep-gated batch scores against the persisted
    * [[GraftOps.dsirStatsBuild]] store (O(batch + touched buckets) —
    * the seed is NEVER re-counted per batch) and only docs with
    * DSIR score ≥ `minDsirScore` proceed to the digest/fingerprint
    * stages. The WHOLE rep-gated batch's feature counts then append to
    * the store's RAW side — pre-gate, deliberately: the raw
    * distribution must track what ARRIVES, not what the gate keeps,
    * or the gate would drift its own reference toward the target and
    * pass ever more (the self-bias the DSIR paper's fixed-raw-sample
    * estimate avoids). Same composed ≡ un-composed law as `digestDir`
    * (gate-then-step equals the composed step — spec-pinned) and the
    * same per-index `batchId` replay story: a replayed batch re-scores
    * against the store's recorded PRE-append base (identical verdicts)
    * and skips the second stats append.
    *
    * `lmStatsDir` adds the ABSOLUTE twin — the CCNet fluency gate
    * against a persisted [[GraftOps.lmStatsBuild]] reference store:
    * docs with [[GraftOps.lmPerplexityAgainstStats]] ppl > `maxPpl`
    * drop (degenerate/OOV text scores HIGH), docs too short to have
    * events (NULL ppl) PASS — length policy belongs to the repetition
    * dials, not the fluency gate. READ-ONLY by design: the reference
    * is a frozen clean corpus, so arrivals never append to it (no
    * replay watermark needed — the probe is deterministic against the
    * store's current snapshot) — the mirror of the DSIR gate's
    * arrivals-tracking append.
    *
    * `qualityModel` adds the LEARNED gate — a
    * [[TextAnalysis.trainQualityClassifier]] model table scored with
    * [[TextAnalysis.qualityScore]]: docs below `minQuality` drop.
    * Read-only like the perplexity gate (the model is trained offline
    * on labeled data and frozen; arrivals never update it in-step).
    * The three distribution gates compose independently — rule-based
    * repetition dials, then relative (DSIR), absolute (perplexity),
    * and learned (classifier) — each an O(batch)-cost filter in front
    * of the dedup stages; use any subset. */
  def curateIncremental(fresh: DataFrame, idCol: String, textCol: String,
      indexDir: String,
      maxDupWordFrac: Double = 0.6, maxTopWordRatio: Double = 0.2,
      maxDupBigramFrac: Double = 0.4, minPct: Int = 80,
      appendToIndex: Boolean = true,
      maxBucketSize: Option[Int] = None,
      batchId: Option[Long] = None,
      digestDir: Option[String] = None,
      dsirStatsDir: Option[String] = None,
      minDsirScore: Double = 0.0,
      lmStatsDir: Option[String] = None,
      maxPpl: Double = Double.MaxValue,
      qualityModel: Option[DataFrame] = None,
      minQuality: Double = 0.0): DataFrame = {
    val spark = fresh.sparkSession
    val snap = GraftOps.indexSnapshot(spark, indexDir, "fingerprint",
      "fingerprintBuild")
    val repGated = TextAnalysis.withRepetitionMetrics(fresh, textCol,
        maxDupWordFrac, maxTopWordRatio, maxDupBigramFrac)
      .filter(col("__rep_keep") === 1)
      .drop(TextAnalysis.RepetitionMetricCols: _*)
      // the sketch build and the survivor anti-join both read this
      // frame — share one materialization (fault: curate's contract)
      .localCheckpoint(false)
    // distribution gate (when composed): score BEFORE the batch's own
    // counts land in the store — dsirScoreAgainstStats already adds the
    // batch's counts in-flight (the batch-plus-history law), so the
    // verdicts equal the one-shot over pool ∪ batch either way, and on
    // replay the recorded pre-append base reproduces them exactly
    val (dsirGated, sPre) = dsirStatsDir match {
      case None => (repGated, None)
      case Some(sd) =>
        val sSnap = GraftOps.indexSnapshot(spark, sd, "dsir-stats",
          "dsirStatsBuild")
        val sPre = GraftOps.replayBase(spark, sd, sSnap, batchId,
          "curateIncremental")
        val keep = GraftOps.dsirScoreAgainstStats(repGated, idCol, textCol,
            sd, Some(sPre.getOrElse(sSnap)))
          .filter(col("score") >= minDsirScore)
          .select(col("doc_id").as("__keep_id"))
        (repGated.join(keep,
            repGated(idCol).cast("long") === col("__keep_id"), "left_semi")
          .localCheckpoint(false), sPre)
    }
    // the absolute fluency gate (read-only store — no replay state):
    // ppl > maxPpl drops; NULL ppl (sub-n-token docs) passes — length
    // policy is the repetition dials' job, not the fluency gate's
    val lmGated = lmStatsDir match {
      case None => dsirGated
      case Some(ld) =>
        val keep = GraftOps.lmPerplexityAgainstStats(dsirGated, idCol,
            textCol, ld)
          .filter(col("ppl").isNull || col("ppl") <= maxPpl)
          .select(col("doc_id").as("__ppl_id"))
        dsirGated.join(keep,
            dsirGated(idCol).cast("long") === col("__ppl_id"), "left_semi")
          .localCheckpoint(false)
    }
    // the learned gate (read-only model table, no store, no state):
    // one broadcast join + per-doc sum per batch
    val gated = qualityModel match {
      case None => lmGated
      case Some(model) =>
        val keep = TextAnalysis.qualityScore(lmGated, idCol, textCol,
            model)
          .filter(col("score") >= minQuality)
          .select(col("doc_id").as("__q_id"))
        lmGated.join(keep,
            lmGated(idCol).cast("long") === col("__q_id"), "left_semi")
          .localCheckpoint(false)
    }
    // ONE scaffolding for both modes (a prior revision kept a parallel
    // copy of the sketch/replay/pin/append sequence per mode, which
    // invites divergence): the digest pre-filter, when configured, only
    // narrows the frame the shared sequence runs on and adds its own
    // per-index replay watermark + append. Each append is individually
    // skipped iff ITS index already committed this batchId, and each
    // read time-travels to ITS recorded pre-append base — a crash
    // between the two appends converges on replay with no cross-index
    // transaction.
    val fPre = GraftOps.replayBase(spark, indexDir, snap, batchId,
      "curateIncremental")
    val (prefiltered, dPre) = digestDir match {
      case None => (gated, None)
      case Some(dd) =>
        val dSnap = GraftOps.indexSnapshot(spark, dd, "digest",
          "digestIndexBuild")
        val dPre = GraftOps.replayBase(spark, dd, dSnap, batchId,
          "curateIncremental")
        (GraftOps.digestAntiJoin(gated, textCol, dd, dPre.getOrElse(dSnap))
          // the sketch build, the digest append, and the survivor
          // anti-join all read this frame — share one materialization
          .localCheckpoint(false), dPre)
    }
    // sketch the (pre-filtered) batch ONCE; the dedup check and the
    // append are its two consumers (sketching is the heaviest
    // aggregation). On replay the dedup runs against the recorded
    // PRE-append snapshot — identical survivors, NO second append —
    // and the result is pinned like the normal path: the sink writes a
    // materialized checkpoint instead of lazily re-reading snapshot
    // segments a concurrent vacuum could reclaim.
    // sketched in the shape of the snapshot the dedup probes — one
    // resolve for both, so a concurrent rebuild cannot split them
    val probeSnap = fPre.getOrElse(snap)
    val sk = GraftOps.indexSketch(prefiltered, idCol, textCol, probeSnap)
    val survivors = GraftOps.dedupNearSketched(
      prefiltered, idCol, sk, indexDir, minPct, maxBucketSize,
      Some(probeSnap))
    if (!appendToIndex && fPre.isEmpty && dPre.isEmpty && sPre.isEmpty)
      survivors
    else {
      val pinned = survivors.localCheckpoint(true)
      if (appendToIndex && fPre.isEmpty)
        GraftOps.fingerprintAppendSketch(sk, probeSnap, indexDir, batchId)
      if (appendToIndex && dPre.isEmpty)
        digestDir.foreach(dd => GraftOps.digestAppendDigests(
          prefiltered.select(md5(col(textCol)).as("digest"))
            .filter(col("digest").isNotNull).distinct(),
          dd, batchId))
      // the RAW side tracks arrivals (the rep-gated batch, pre-
      // distribution-gate — see the scaladoc's self-bias note)
      if (appendToIndex && sPre.isEmpty)
        dsirStatsDir.foreach(sd => GraftOps.dsirStatsAppend(
          repGated, idCol, textCol, sd, side = "raw", batchId = batchId))
      pinned
    }
  }
}
