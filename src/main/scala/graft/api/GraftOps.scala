package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftExtensions

/** Public, parameterized operator library — the API a user calls on their
  * OWN DataFrames. The `SparkEntry.queries` registry entries are thin
  * bindings of these operators to the driver's testdata; nothing here knows
  * about scale-factor directories or fixed column names.
  *
  * Design rules shared by every operator (SURVEY §7.3):
  *  - deterministic: no rand(), no monotonically_increasing_id, window
  *    ranks always carry a unique tiebreaker. ONE carve-out: a
  *    monotonically_increasing_id is permitted as a SYNTHETIC KEY FOR
  *    COUNTING — a row-unique id feeding a per-key aggregation whose
  *    OUTPUT never contains the id (gram counts, target-side feature
  *    counts) — because there only row-uniqueness matters and any
  *    layout reproduces the same counts; each such use says so at the
  *    call site. Never let one reach an output column;
  *  - scale-shaped: candidate generation is equi-join bucketed (bands,
  *    winnowing digests, hash buckets), never all-pairs, unless the
  *    operator IS the exact baseline;
  *  - emit-friendly: outputs are flat columns, ready for parquet.
  */
object GraftOps {

  /** Exact content dedup: one row per distinct value of `textCol`, keeping
    * the minimum id as the survivor plus the duplicate count. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("hash"))
      .agg(min(idCol).as("keeper"), count(lit(1)).as("cnt"))
      .orderBy("hash")

  /** Exact content dedup keeping the BEST row per duplicate group instead
    * of the smallest id: the survivor maximizes `scoreCol` (quality,
    * length, recency …), ties to the smallest id — `min(struct(−score,
    * id))` makes the argmax a plain aggregate, no window shuffle. Emits
    * (hash, keeper, best_score, cnt). */
  def exactDedupKeepBest(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("hash"))
      .agg(min(keepBestOrd(scoreCol, idCol)).as("b"),
        count(lit(1)).as("cnt"))
      .select(col("hash"), col("b.i").as("keeper"),
        (-col("b.ns")).as("best_score"), col("cnt"))
      .orderBy("hash")

  /** The keep-best ORDERING struct shared by the argmax dedup family:
    * (score-is-null flag, negated score, id [, extras]) — a NULL score
    * sorts LAST (a null would otherwise sort FIRST ascending and a
    * null-quality row would silently beat every scored duplicate),
    * ties to the smallest id. */
  private def keepBestOrd(scoreCol: String, idCol: String): Column =
    struct(col(scoreCol).isNull.cast("int").as("nu"),
      (-col(scoreCol)).as("ns"), col(idCol).as("i"))

  /** [[exactDedupKeepBest]] returning the surviving ROWS — all of `docs`'
    * columns, exactly one row per byte-identical content group (argmax
    * `scoreCol`, ties to the smallest `idCol`) — the form a pipeline
    * composes, where the summary form reports. ONE aggregation: min_by
    * over the full row struct makes the argmax a plain map-side-partial
    * agg — no keeper semi-join back to the corpus, so upstream per-row
    * work (quality metrics, feature extraction) is computed exactly once
    * at any scale. */
  def exactDedupRows(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("__h"))
      .agg(min_by(struct(docs.columns.map(col): _*),
        keepBestOrd(scoreCol, idCol)).as("__best"))
      .select(col("__best.*"))

  /** Cross-document SEGMENT dedup — the exact line-dedup family member
    * (MassiveText/Falcon-style): split each document on `sep`, drop every
    * segment whose DISTINCT-DOCUMENT frequency reaches the threshold
    * (boilerplate headers, navigation bars, license blocks — text
    * duplicated INSIDE documents, where whole-document dedup sees
    * nothing), and reassemble the survivors in original order. The
    * threshold is `minDocs` absolute, or `minDocFrac` of the corpus size
    * (resolved by a scalar subquery — no driver job, and the dial
    * survives corpus growth). Shuffle profile: one distinct-doc-count
    * aggregation keyed on 8-byte xxhash64 segment digests, one LEFT ANTI
    * join of the exploded segments against the (small) common set, and
    * one groupBy(doc) reassembly via array_sort(collect_list(struct(pos,
    * seg))) — position-exact, no window over the corpus. A document whose
    * every segment is common emits an empty string, not a dropped row.
    * `sep` is a LITERAL separator (regex-quoted). Emits (doc_id,
    * text_deduped, n_segments, n_removed). */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDocs: Int = 2,
      minDocFrac: Option[Double] = None): DataFrame = {
    require(minDocs >= 2 || minDocFrac.nonEmpty,
      "minDocs below 2 would drop every segment")
    minDocFrac.foreach(f => require(f > 0 && f <= 1,
      "minDocFrac must be in (0, 1]"))
    val qsep = java.util.regex.Pattern.quote(sep)
    // the fractional dial floors at 2 like the absolute one: on a small
    // corpus ceil(frac·n) can resolve to 1, which would flag EVERY
    // segment common and blank every document
    val threshold: Column = minDocFrac match {
      case Some(f) =>
        greatest(lit(2L), ceil(lit(f) * docs.agg(count(lit(1))).scalar()))
      case None => lit(minDocs.toLong)
    }
    val seg = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), qsep)).as(Seq("pos", "seg")))
      .withColumn("h", xxhash64(col("seg")))
    val common = seg.groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= threshold)
      .select("h")
    val rebuilt = seg.join(common, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"),
          sep).as("text_deduped"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), qsep)).as("n_segments"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        col("n_segments"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_removed"))
  }

  /** Corpus-wide duplicated-SPAN scrub — the token-window member of the
    * exact-dedup family (the "remove long duplicated substrings" pass a
    * training-data pipeline runs between whole-document dedup and
    * segment dedup): any k-token window whose verbatim text occurs at
    * least `minOccurrences` times ACROSS THE CORPUS (counting every
    * occurrence, so a within-document repeat also qualifies) marks all
    * k of its token positions as duplicated, and each document is
    * reassembled from its surviving tokens in original order. This
    * catches duplication [[segmentDedup]] cannot: spans that cross
    * segment boundaries, or sit inside segments that differ elsewhere —
    * while whole-document dedup (q60) sees nothing unless the entire
    * text matches.
    *
    * Shuffle profile at 100 TB: window identity travels as an 8-byte
    * xxhash64 of the window text ([[segmentDedup]]'s digest convention),
    * so the frequency aggregation is a map-side-combined count on fixed-
    * width keys — never the text itself; the duplicated set joins back
    * as a LEFT SEMI on the same key; coverage explodes each duplicated
    * window to its k positions (bounded ×k, 16-byte rows) and the
    * per-document reassembly is one groupBy(doc) whose collect_list is
    * bounded by the document's own token count (the [[segmentDedup]] /
    * chunking bound — documents are bounded, corpora are not). No
    * window function over the corpus, no driver-side data.
    *
    * Null id or text fail loudly (in-plan raise_error — a null text
    * would silently vanish from the frequency count and un-mark spans
    * it actually duplicates). A document shorter than k tokens has no
    * windows and passes through verbatim. A document whose every token
    * is covered emits an empty string, not a dropped row. Emits
    * (doc_id, text_scrubbed, n_tokens, n_removed). */
  def substringScrub(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minOccurrences: Long = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2 (got $k; k = 1 is token frequency)")
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2 (got $minOccurrences; 1 would mark " +
        "every span duplicated and blank the corpus)")
    val toks = scrubTokens(docs, idCol, textCol, "substringScrub")
    val grams = gramWindows(toks, k).localCheckpoint(false)
    val dup = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minOccurrences).select("h")
    scrubAssemble(toks, grams, dup, k)
  }

  /** (doc_id, toks) with in-plan loud null id/text — the scrub family's
    * shared tokenizer. Fenced behind a lazy checkpoint: every caller
    * consumes it from at least two subtrees (window generation and the
    * token-level reassembly). */
  private def scrubTokens(docs: DataFrame, idCol: String, textCol: String,
      op: String): DataFrame =
    docs.select(
      when(col(idCol).isNull, raise_error(lit(
        s"$op: null id '$idCol'"))).otherwise(col(idCol)).as("doc_id"),
      split(when(col(textCol).isNull, raise_error(lit(
          s"$op: null text '$textCol' — the doc's spans would silently " +
            "leave the frequency count"))).otherwise(col(textCol)),
        " ").as("toks"))
      .localCheckpoint(false)

  /** Every k-token window of every document: (doc_id, pos — 1-based
    * start, h — xxhash64 of the window text, [[segmentDedup]]'s 8-byte
    * digest convention). Docs shorter than k have no windows
    * (sequence(1, size-k+1) is only well-formed when size >= k). */
  private def gramWindows(toks: DataFrame, k: Int): DataFrame =
    toks.filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(toks) - ${k - 1}),
           |  i -> xxhash64(array_join(slice(toks, i, $k), ' ')))"""
          .stripMargin)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))

  /** Coverage + reassembly shared by the one-shot and incremental
    * scrubs: `dup` is the duplicated-window hash set; every (doc, pos)
    * a duplicated window covers is removed, survivors reassemble in
    * original order, and a document with no surviving tokens emits an
    * empty string rather than disappearing. */
  private def scrubAssemble(toks: DataFrame, grams: DataFrame,
      dup: DataFrame, k: Int): DataFrame = {
    val covered = grams.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val tok = toks.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val rebuilt = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("text_scrubbed"),
        count(lit(1)).as("n_kept"))
    toks.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"),
        col("n_tokens").cast("int").as("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("int")
          .as("n_removed"))
  }

  private val GramTables = Seq("grams")

  /** A batch's per-window-hash count deltas, ready for one gram-index
    * segment: (h, cnt, bucket). Counting needs no caller doc ids — a
    * synthetic one feeds [[gramWindows]]. `negate` writes the same
    * counts with flipped sign (the retraction segment). */
  private def gramCounts(docs: DataFrame, textCol: String, k: Int,
      nBuckets: Int, op: String, negate: Boolean): DataFrame = {
    val toks = docs.select(split(when(col(textCol).isNull,
        raise_error(lit(s"$op: null text '$textCol' — the doc's spans " +
          "would silently leave the frequency count")))
        .otherwise(col(textCol)), " ").as("toks"))
      // doctrine carve-out (header rule 1): synthetic key for counting —
      // gramWindows only needs a row-unique doc_id to keep windows from
      // crossing doc boundaries; the id feeds the per-hash count and
      // never reaches an output value, so any layout counts the same
      .withColumn("doc_id", monotonically_increasing_id())
    val cnt = count(lit(1))
    gramWindows(toks, k)
      .groupBy("h").agg((if (negate) -cnt else cnt).as("cnt"))
      .withColumn("bucket", pmod(col("h"), lit(nBuckets.toLong)).cast("int"))
      .select("h", "cnt", "bucket")
  }

  /** Persistent k-gram FREQUENCY index — [[substringScrub]]'s
    * incremental substrate, the fifth index family (digest, fingerprint,
    * SRP, cluster, gram). Where the digest index stores a SET (presence
    * is the verdict), this one stores COUNTS, and counts are ADDITIVE:
    * build and append write positive per-window counts, retraction
    * ([[gramIndexRetract]]) writes the SAME counts negated, readers sum
    * across segments (merge-on-read — no tombstone sequencing needed,
    * arithmetic is the sequencing), and [[gramIndexCompact]] folds the
    * sum and drops net-nonpositive rows. Erasure is therefore O(batch)
    * and exact: after retract, a taken-down document's spans stop
    * counting toward duplication the moment the segment commits.
    * RETRACTION CONTRACT: retract exactly the frames you appended, once
    * each — counts cannot distinguish a double-retract from a real
    * subtraction (the probe clamps net-negative history at zero, so
    * misuse degrades toward under-marking, never a crash).
    *
    * Bucketed by pmod(h, nBuckets) like the digest index: a probing
    * batch prunes history to the buckets its own windows hash into.
    * Segment rows are (h, cnt, bucket) — 20 bytes of fixed-width data
    * per distinct window, ~3 orders of magnitude under the text; the
    * layout rides as the `k` and `n_buckets` props. */
  def gramIndexBuild(corpus: DataFrame, textCol: String, indexDir: String,
      k: Int = 8, nBuckets: Int = 1024): Unit = {
    require(k >= 2, s"k must be >= 2 (got $k; k = 1 is token frequency)")
    require(nBuckets >= 1 && nBuckets <= (1 << 20),
      s"nBuckets must be in 1..${1 << 20} (got $nBuckets)")
    IndexStore.commit(corpus.sparkSession, indexDir, "gramIndexBuild") {
      (_, v) =>
        writeBucketedOrEmpty(
          gramCounts(corpus, textCol, k, nBuckets, "gramIndexBuild",
            negate = false),
          s"$indexDir/$v/grams")
        (GramTables.map(_ -> Seq(v)).toMap,
          Map("k" -> k.toString, "n_buckets" -> nBuckets.toString))
    }
    ()
  }

  /** Add a batch's window counts to a [[gramIndexBuild]] index —
    * O(batch), one bucketed segment, layout read from the closure's
    * base snapshot (the concurrent-rebuild retry rule). Empty batches
    * are a no-op (no version churn). */
  def gramIndexAppend(batch: DataFrame, textCol: String,
      indexDir: String): Unit =
    gramDelta(batch, textCol, indexDir, "gramIndexAppend", negate = false)

  /** Erase a batch's window counts from a [[gramIndexBuild]] index — a
    * NEGATIVE-count segment ([[gramIndexBuild]]'s retraction contract:
    * retract exactly what you appended, once). O(batch); the next
    * [[gramIndexCompact]] folds the arithmetic away. */
  def gramIndexRetract(batch: DataFrame, textCol: String,
      indexDir: String): Unit =
    gramDelta(batch, textCol, indexDir, "gramIndexRetract", negate = true)

  private def gramDelta(batch: DataFrame, textCol: String, indexDir: String,
      op: String, negate: Boolean): Unit =
    deltaCommit(batch.sparkSession, indexDir, op, "gram", "gramIndexBuild",
        batchId = None, negate, batch.isEmpty) { (base, v) =>
      writeBucketedOrEmpty(
        gramCounts(batch, textCol, base.prop("k").toInt,
          base.prop("n_buckets").toInt, op, negate),
        s"$indexDir/$v/grams")
      GramTables
    }

  /** Fold a gram index's segment chain into one: sum counts per window
    * hash, drop net-nonpositive rows (retracted content leaves the
    * physical index here), rewrite bucketed ([[compactCommit]]). */
  def gramIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    compactCommit(spark, indexDir, "gramIndexCompact", "gram",
        "gramIndexBuild") {
      (base, v) =>
        // bucket is a pure function of h, so any per-group representative
        // (max) reproduces it without re-deriving it from the layout
        writeBucketedOrEmpty(
          IndexStore.readTable(spark, indexDir, base, "grams")
            .groupBy("h")
            .agg(sum("cnt").as("cnt"), max("bucket").as("bucket"))
            .filter(col("cnt") > 0)
            .select("h", "cnt", "bucket"),
          s"$indexDir/$v/grams")
        GramTables
    }

  /** Incremental [[substringScrub]] — scrub an arriving batch against a
    * persisted [[gramIndexBuild]] corpus WITHOUT re-reading the corpus:
    * a window in the batch is duplicated iff its occurrences in the
    * batch plus its net count in history reach `minOccurrences`. By
    * construction this equals the one-shot
    * `substringScrub(history ∪ batch)` RESTRICTED to the batch's
    * documents (the spec-pinned law): coverage is per-document from the
    * document's own windows, and a window's one-shot corpus count is
    * exactly batch-count + history-count. Like q112's prefix semantics,
    * documents already emitted are not retro-scrubbed when later
    * batches duplicate them — the batch-wise pass scrubs each batch
    * against everything seen SO FAR.
    *
    * Shuffle profile: the batch's windows sketch once (lazy-checkpointed
    * leaf); history prunes to the touched buckets (driver metadata
    * bounded by nBuckets, the digest probe's convention) and folds its
    * segment counts per hash BEFORE the join, so the join's history side
    * is at most one row per distinct batch window. `minOccurrences` is a
    * probe-time dial — one index serves every threshold. */
  def substringScrubAgainstCorpus(batch: DataFrame, idCol: String,
      textCol: String, indexDir: String,
      minOccurrences: Long = 2): DataFrame = {
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2 (got $minOccurrences; 1 would mark " +
        "every span duplicated and blank the batch)")
    val spark = batch.sparkSession
    val snap = IndexStore.resolve(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"substringScrubAgainstCorpus: no index at $indexDir — build one " +
          "with gramIndexBuild first"))
    val k = snap.prop("k").toInt
    val nBuckets = snap.prop("n_buckets").toInt
    val toks = scrubTokens(batch, idCol, textCol,
      "substringScrubAgainstCorpus")
    val grams = gramWindows(toks, k).localCheckpoint(false)
    val touched = grams
      .select(pmod(col("h"), lit(nBuckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val hist = IndexStore.readTable(spark, indexDir, snap, "grams")
      .filter(col("bucket").isin(touched: _*))
      .groupBy("h").agg(sum("cnt").as("hist_cnt"))
    val batchCnt = grams.groupBy("h").agg(count(lit(1)).as("bcnt"))
    // history clamps at zero: a net-negative count (the documented
    // double-retract misuse) must not mask the batch's OWN duplication
    val dup = batchCnt.join(hist, Seq("h"), "left")
      .filter(col("bcnt") +
        greatest(coalesce(col("hist_cnt"), lit(0L)), lit(0L))
        >= minOccurrences)
      .select("h")
    scrubAssemble(toks, grams, dup, k)
  }

  /** SimHash near-dup pairs within `maxHamming` (≤ 3): 64-bit tf-weighted
    * fingerprints from md5 nibbles, 4×16-bit banded candidate join
    * (pigeonhole-complete for hamming ≤ 3), codegen'd popcount verify.
    * Tokens = whitespace split of `textCol`.
    *
    * Per-bit tf sums are packed two 32-bit lanes per long (32 longs per
    * doc), so counters are exact up to 2^30 token occurrences per document
    * — long documents cannot silently overflow into a neighboring bit's
    * counter (a 16-bit lane would wrap at 32k occurrences). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band SimHash guarantees completeness only for hamming <= 3")
    val tok = fanOutForCpu(docs).select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("token"))
    // pvec[g] holds bits 2g and 2g+1 of the 64-bit sketch as two 32-bit
    // lanes: lane k = 2·bit(2g+k) << 32k. Bit i of the md5-derived hash is
    // nibble i div 4, position i % 4 (matches the oracle's bit order).
    val tokVec = graft.engine.Tables.barrier(tok.select("token").distinct()
      .withColumn("h", substring(md5(col("token")), 1, 16))
      .withColumn("pvec", expr(
        """transform(sequence(0, 31), g ->
          |  aggregate(sequence(0, 1), CAST(0 AS BIGINT), (acc, k) ->
          |    acc + shiftleft(CAST(2 * (shiftright(
          |      instr('0123456789abcdef', substring(h, (g * 2 + k) div 4 + 1, 1)) - 1,
          |      (g * 2 + k) % 4) % 2) AS BIGINT), 32 * k)))""".stripMargin))
      .select("token", "pvec"))
    val sums = (0 until 32).map(g =>
      sum(col("pvec").getItem(g)).as(s"p$g")) :+
      count(lit(1)).as("tcnt")
    val fp = tok.join(broadcast(tokVec), "token")
      .groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .withColumn("parr", array((0 until 32).map(g => col(s"p$g")): _*))
      .select(col("doc_id"), expr(
        """transform(sequence(0, 3), b ->
          |  aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, j) ->
          |    acc * 2 + IF((shiftright(parr[CAST((b * 16 + j) div 2 AS INT)],
          |      CAST(32 * ((b * 16 + j) % 2) AS INT)) & 4294967295) >= tcnt,
          |      1, 0)))""".stripMargin).as("bands"))
    val banded = fp.repartition(col("doc_id"))
      .select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("k", "bv")))
    val a = banded.select(col("k"), col("bv"), col("doc_id").as("d1"), col("bands").as("ba1"))
    val b = banded.select(col("k"), col("bv"), col("doc_id").as("d2"), col("bands").as("ba2"))
    val ham = (0 until 4)
      .map(k => bit_count(col("ba1").getItem(k).bitwiseXOR(col("ba2").getItem(k))))
      .reduce(_ + _)
    a.join(b, Seq("k", "bv")).filter(col("d1") < col("d2"))
      .withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
      .distinct()
      .orderBy("d1", "d2")
  }

  /** MinHash + LSH near-dup pairs at Jaccard ≥ minPct/100 — the approximate
    * subquadratic path (the exact baselines are `ngramJaccardPairs` /
    * TextOps.q61). `nHashes` hand-rolled minhashes via xxhash64(token#seed),
    * banded `bands`×(nHashes/bands); candidates collide on a (band,
    * signature) equi-join and are verified EXACTLY inside the join — via
    * 64-bit-mask popcount when the global vocabulary fits in 64 tokens,
    * via array_intersect otherwise (the popcount trick silently aliases
    * tokens past 64, so the dispatch is a correctness requirement, not an
    * optimization). A pair is emitted only by its first agreeing band
    * ("band ownership") — dedup without a distinct shuffle. Deterministic:
    * fixed seeds, no ml.feature randomness.
    *
    * `smallVocab`: Some(x) asserts the ≤64-token-vocabulary property and
    * keeps construction fully LAZY (no job until the frame executes);
    * None runs a bounded probe at construction — `distinct().limit(65)`,
    * which short-circuits as soon as 65 distinct tokens exist, so any
    * realistically large corpus answers from its first partitions. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      nHashes: Int = 32, bands: Int = 8, minPct: Int = 80,
      smallVocab: Option[Boolean] = None): DataFrame = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    GraftExtensions.register(docs.sparkSession)
    val rowsPerBand = nHashes / bands
    // sorted for the large-vocab branch's merge-count verify (the
    // small-vocab popcount branch never reads tk's order)
    val dt = docs.select(col(idCol).as("doc_id"),
      sort_array(array_distinct(split(col(textCol), " "))).as("tk"))
    val tok = dt.select(col("doc_id"), col("tk"), explode(col("tk")).as("token"))
    val vocabIsSmall = smallVocab.getOrElse(
      tok.select("token").distinct().limit(65).count() <= 64)
    val hashCols = (0 until nHashes).map(i =>
      min(xxhash64(concat_ws("#", col("token"), lit(i.toString)))).as(s"h$i"))
    val sigCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      xxhash64(hs: _*)
    }
    val perDoc =
      if (vocabIsSmall) {
        val rk = tok.groupBy("token").agg(count(lit(1)).as("df"))
          .withColumn("rk", row_number().over(Window.orderBy(col("token"))) - 1)
          .select("token", "rk")
        val aggCols = bit_or(expr("shiftleft(CAST(1 AS BIGINT), rk)")).as("vmask") +:
          count(lit(1)).as("sz") +: hashCols
        tok.drop("tk").join(broadcast(rk), "token")
          .groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      } else {
        tok.groupBy("doc_id").agg(hashCols.head, hashCols.tail: _*)
          .join(dt, "doc_id")
          .withColumn("sz", size(col("tk")).cast("long"))
      }
    val verifyCol = if (vocabIsSmall) "vmask" else "tk"
    val buckets = perDoc
      .repartition(col("doc_id"))
      .withColumn("sigs", array(sigCols: _*))
      .select(col("doc_id"), col("sz"), col("sigs"), col(verifyCol),
        posexplode(col("sigs")).as(Seq("band", "sig")))
    def side(n: Int) = buckets.select(
      col("band"), col("sig"), col("doc_id").as(s"d$n"),
      col("sz").as(s"sz$n"), col("sigs").as(s"sg$n"),
      col(verifyCol).as(s"v$n"))
    val a = side(1)
    val b = side(2)
    val inter =
      if (vocabIsSmall) bit_count(col("v1").bitwiseAND(col("v2")))
      else expr("graft_intersect_size(v1, v2)").cast("long")
    val uni = col("sz1") + col("sz2") - inter
    val firstBand = firstAgreeingBand(bands, col("sg1"), col("sg2"))
    a.join(b, Seq("band", "sig"))
      .filter(col("d1") < col("d2") &&
        col("sz1") * 100 >= col("sz2") * minPct &&
        col("sz2") * 100 >= col("sz1") * minPct &&
        // single-eval threshold algebra (dedupNearSketched documents why)
        inter * (100 + minPct) >= (col("sz1") + col("sz2")) * minPct)
      .filter(col("band") === firstBand)
      .select(col("d1"), col("d2"), (inter.cast("double") / uni).as("jac"))
      .orderBy("d1", "d2")
  }

  /** Per-document MinHash sketch for the persistent fingerprint index:
    * (doc_id, sz, tk, sigs) where tk = the distinct whitespace tokens,
    * sz = |tk|, sigs = `bands` banded signatures over `nHashes`
    * hand-rolled xxhash64 minhashes — the same seeds and banding as
    * [[minhashLshPairs]]'s large-vocabulary path, and PURE per document
    * (a doc's signature depends only on its own tokens, never on the
    * corpus), so an index built today meets batches sketched tomorrow
    * and the candidate graph is identical however a corpus is split. */
  private def minhashDocSketch(docs: DataFrame, idCol: String,
      textCol: String, nHashes: Int, bands: Int,
      spread: Boolean = true): DataFrame = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    val rowsPerBand = nHashes / bands
    // null id/text fail LOUDLY: a null would otherwise vanish from the
    // sketch (split(NULL) → explode drops the row), silently breaking
    // the "the index accumulates every doc" invariant
    // the token-set frame has TWO consumers (the explode→min aggregation
    // and the tk/sz join-back) whose pruned subtrees differ — fence it
    // behind a lazy checkpoint so the scan + split + distinct run once
    // per materialization, not twice (jaccardPairs' set-frame pattern).
    // `spread = false` on the PROBE side: a batch sketch is small and
    // its downstream joins re-exchange anyway, so the input-split
    // fan-out only pays off for the corpus-sized BUILD sketch
    // (full-bench A/B: q114 +0.58 s with the probe side spread).
    val dt = (if (spread) fanOutForCpu(docs) else docs).select(
      when(col(idCol).isNull, raise_error(lit(
        s"minhash sketch: null id '$idCol'"))).otherwise(col(idCol))
        .as("doc_id"),
      // sorted + distinct: the exact-verify kernel (graft_intersect_size)
      // is a sorted-merge count — the sort costs O(|tk| log |tk|) once at
      // sketch time and buys zero-allocation verification per candidate
      // PAIR; set semantics are order-free so nothing else notices. The
      // order persists in the index docs table; an index built before
      // this ordering fails the verify LOUDLY (the kernel validates),
      // naming the fix (rebuild).
      sort_array(array_distinct(split(
        when(col(textCol).isNull, raise_error(lit(
          s"minhash sketch: null text '$textCol' — the doc would silently " +
            "vanish from the index"))).otherwise(col(textCol)), " "))).as("tk"))
      .localCheckpoint(false)
    val tok = dt.select(col("doc_id"), explode(col("tk")).as("token"))
    val hashCols = (0 until nHashes).map(i =>
      min(xxhash64(concat_ws("#", col("token"), lit(i.toString)))).as(s"h$i"))
    val sigCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      xxhash64(hs: _*)
    }
    // duplicate ids in one batch fail LOUDLY too, same stance as null
    // id/text: the explode→min aggregation would otherwise union both
    // rows' tokens into one signature while the join-back emits two rows
    // with inconsistent (tk, sigs) — a silently corrupt index entry.
    // The guard rides the SAME aggregation the signatures use (tokens
    // counted per doc there must equal the joined row's own token-set
    // size; split() never yields an empty array, so every source row
    // contributes ≥ 1 token and any second row inflates the count) —
    // not a second full groupBy over the batch, which would duplicate
    // the sketch's shuffle on every build/append just to count ids.
    tok.groupBy("doc_id")
      .agg(hashCols.head, (hashCols.tail :+ count(lit(1)).as("__ntok")): _*)
      .join(dt, "doc_id")
      .select(col("doc_id"),
        when(col("__ntok") =!= size(col("tk")), raise_error(concat(
          lit("minhash sketch: duplicate doc id "),
          col("doc_id").cast("string"),
          lit(" in one build/append batch — its merged signature would " +
            "corrupt the index; dedup ids upstream"))))
          .otherwise(size(col("tk")).cast("long")).as("sz"),
        col("tk"), array(sigCols: _*).as("sigs"))
  }

  /** Build a PERSISTENT near-dup fingerprint index at `indexDir` — the
    * MinHash-band twin of [[ivfBuild]], and the missing half of
    * [[dedupAgainstCorpus]]'s against-history story: sketch the corpus
    * once, keep the sketches, and let every arriving batch near-dup-check
    * itself against all of history without re-reading history's text.
    * Committed through the [[IndexStore]] VERSIONED-SNAPSHOT protocol
    * (profileUpsert's manifest flip, generalized): logical tables live
    * as immutable segment dirs under `indexDir/vNNNNN/`, the latest
    * `_manifests/vNNNNN.manifest` IS the index, and every mutation
    * (build / append / compact) claims a version, writes aside, and
    * publishes by one atomic rename. A search that resolved its
    * snapshot before a mutation published keeps reading complete,
    * consistent tables; concurrent WRITERS fail loudly at the claim,
    * before any work ([[ConcurrentIndexWriteException]]). Reclaim
    * superseded versions with [[indexVacuum]] once no reader holds
    * them. The sketch shape rides as the `n_hashes` and `bands` props,
    * so search/append always hash exactly as the build did. Logical
    * tables:
    *  - `docs`  — (doc_id, sz, tk, sigs): per-doc token set +
    *    signatures (the verify side);
    *  - `bands` — (doc_id, sz, band, sig): the exploded band
    *    table (the candidate-join side; sz rides along so the size-ratio
    *    prefilter prunes candidates before any verify).
    * The band table derives from the WRITTEN docs parquet, so the sketch
    * aggregation runs once and the second pass re-reads compact columns.
    * A REBUILD over a live index is just the next version owning both
    * tables — in-flight readers keep the old snapshot, and the
    * replay watermark (see [[CurationPipeline.curateIncremental]])
    * resets with the fresh index. */
  def fingerprintBuild(corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, nHashes: Int = 32, bands: Int = 8): Unit = {
    val spark = corpus.sparkSession
    IndexStore.commit(spark, indexDir, "fingerprintBuild") { (_, v) =>
      minhashDocSketch(corpus, idCol, textCol, nHashes, bands)
        .write.parquet(s"$indexDir/$v/docs")
      IndexStore.readWritten(spark, s"$indexDir/$v/docs")
        .select(col("doc_id"), col("sz"),
          posexplode(col("sigs")).as(Seq("band", "sig")))
        .write.parquet(s"$indexDir/$v/bands")
      (BandTables.map(_ -> Seq(v)).toMap,
        Map("n_hashes" -> nHashes.toString, "bands" -> bands.toString))
    }
    ()
  }

  /** Append a batch's fingerprints to a [[fingerprintBuild]] index —
    * sketched with the INDEX's recorded shape, never the caller's idea of
    * it. Append the FULL batch (survivors and dropped alike) after
    * [[dedupNearAgainstCorpus]]: precedence is by id, so later batches
    * must measure against every doc already seen, kept or not — that is
    * what makes batch-at-a-time processing equal to one-shot. The sketch
    * computes once (lazy local checkpoint shared by both writes; fault
    * tolerance per [[CurationPipeline.curate]]'s fan-out contract).
    * One [[IndexStore]] commit: the new docs/bands segments publish
    * together, atomically — a concurrent search sees both or neither. */
  def fingerprintAppend(fresh: DataFrame, idCol: String, textCol: String,
      indexDir: String): Unit = {
    val snap = indexSnapshot(fresh.sparkSession, indexDir, "fingerprint",
      "fingerprintBuild")
    fingerprintAppendSketch(indexSketch(fresh, idCol, textCol, snap), snap,
      indexDir)
  }

  /** A batch sketched with the shape snapshot `snap` records,
    * materialized once behind a lazy local checkpoint — the shareable
    * form both the dedup check and the append consume
    * (curateIncremental computes it ONCE and hands it to both; the
    * sketch aggregation is the incremental step's heaviest job, the
    * exact duplication class the q113 fix targets). `snap` must be the
    * snapshot the caller probes with: a rebuild with another shape
    * committing after it cannot split the batch's shape from the
    * history it is compared against. */
  private[api] def indexSketch(df: DataFrame, idCol: String,
      textCol: String, snap: IndexStore.Snapshot): DataFrame =
    minhashDocSketch(df, idCol, textCol, snap.prop("n_hashes").toInt,
        snap.prop("bands").toInt, spread = false)
      .localCheckpoint(false)

  /** [[fingerprintAppend]] over a prebuilt [[indexSketch]] made with
    * the shape `shape` records. `batchId` (from
    * [[CurationPipeline.curateIncremental]]'s foreachBatch slot)
    * records the replay watermark in the manifest: `last_batch` = the
    * id, `last_batch_base` = the pre-append manifest version a replay
    * must dedup against. */
  private[api] def fingerprintAppendSketch(sk: DataFrame,
      shape: IndexStore.Snapshot, indexDir: String,
      batchId: Option[Long] = None): Unit =
    bandAppendSketch(sk, shape, indexDir, batchId, "fingerprintAppend",
      "fingerprint", "fingerprintBuild",
      sk.select(col("doc_id"), col("sz"),
        posexplode(col("sigs")).as(Seq("band", "sig"))))

  /** The shared append of both band-index families: one
    * [[deltaCommit]] holding the batch's docs + bands segments. The
    * batch was sketched BEFORE the claim, in the shape of snapshot
    * `shape`; a base that the claim resolves with another layout (a
    * rebuild committed in between) fails loudly instead of receiving
    * rows whose signatures disagree with the index. */
  private def bandAppendSketch(sk: DataFrame, shape: IndexStore.Snapshot,
      indexDir: String, batchId: Option[Long], op: String, what: String,
      builder: String, bandRows: DataFrame): Unit =
    deltaCommit(sk.sparkSession, indexDir, op, what, builder, batchId,
        negate = false, sk.isEmpty) { (base, v) =>
      val (was, now) = (layoutOf(shape), layoutOf(base))
      if (was != now) throw new IllegalStateException(
        s"$op: the batch was sketched for the $what index layout $was " +
          s"(v${shape.version}), but the index at $indexDir now records " +
          s"$now (v${base.version}) — it was rebuilt in between; re-run " +
          "the step so the batch is sketched against the rebuilt index")
      sk.write.parquet(s"$indexDir/$v/docs")
      bandRows.write.parquet(s"$indexDir/$v/bands")
      BandTables
    }

  /** A snapshot's layout props — every prop but the replay watermarks —
    * rendered `(k=v, ...)` in key order. */
  private def layoutOf(snap: IndexStore.Snapshot): String =
    (snap.props -- Seq("last_batch", "last_batch_base", "last_retract"))
      .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")")

  /** The band-index logical tables (fingerprint and SRP share the
    * layout; IVF has its own pair). */
  private val BandTables = Seq("docs", "bands")

  /** RETRACT documents (by id) from a [[fingerprintBuild]] index —
    * [[digestIndexRetract]]'s near-dup twin, consuming the same
    * [[corpusDiff]] work-list (`removed` ids, plus `changed` ids when
    * the refreshed content re-ingests through
    * [[dedupNearAgainstCorpus]] + [[fingerprintAppend]]): after the
    * commit, probes no longer drop fresh docs against the retracted
    * ids' sketches, and erased content stops being queryable through
    * the index. Same merge-on-read design as the digest twin — the ids
    * land in a `tombstones` table (O(batch) per retract), every history
    * read subtracts SEQUENCED tombstones (an id re-appended after its
    * retraction is live again — the crawl-refresh `changed` cycle), and
    * [[fingerprintCompact]] folds them (docs/bands rewritten minus
    * tombstoned rows, table dropped, probes back to zero overhead).
    * Unlike the digest index (content-keyed, refcount-free), band
    * entries are PER-DOC, so id-level retraction is exact: no other
    * document's entry is touched. Retracting an unknown id is a
    * harmless no-op; null ids fail loudly ([[corpusDiff]]'s stance —
    * a null id matches nothing and hides a wiring bug); empty batches
    * are a no-op. `batchId` records the separate `last_retract`
    * replay watermark ([[digestIndexRetract]]'s contract verbatim). */
  def fingerprintRetract(removed: DataFrame, idCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    indexRetractIds(removed, idCol, indexDir, "fingerprintRetract",
      "fingerprint", "fingerprintBuild", "doc_id", batchId)

  /** [[fingerprintRetract]]'s twin for the [[srpIndexBuild]] embedding
    * index — the two band families share the tombstone mechanism, so
    * the contract is identical (ids keyed as `vec_id`). */
  def srpIndexRetract(removed: DataFrame, idCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    indexRetractIds(removed, idCol, indexDir, "srpIndexRetract",
      "SRP embedding", "srpIndexBuild", "vec_id", batchId)

  /** The shared id-keyed retract commit (fingerprint / SRP / IVF): the
    * batch's distinct ids land in a `tombstones` table segment; every
    * retraction-aware reader subtracts them ([[liveIndexTable]]) until
    * a compact folds them. */
  private def indexRetractIds(removed: DataFrame, idCol: String,
      indexDir: String, op: String, what: String, builder: String,
      keyCol: String, batchId: Option[Long] = None): Unit = {
    val ids = removed.select(
        when(col(idCol).isNull,
          raise_error(lit(s"$op: null id '$idCol' in the retract batch — " +
            "a null id matches nothing and hides a wiring bug")))
          .otherwise(col(idCol)).as(keyCol))
      .distinct().localCheckpoint(false)
    deltaCommit(removed.sparkSession, indexDir, op, what, builder, batchId,
        negate = true, ids.isEmpty) { (_, v) =>
      ids.write.parquet(s"$indexDir/$v/tombstones")
      Seq("tombstones")
    }
  }

  /** An id-keyed index table minus its sequenced tombstones — the
    * merge-on-read read the probe/search paths and the compacts share
    * (fingerprint/SRP docs+bands, IVF corpus). Skips the subtraction
    * join entirely when no retract ever ran (no `tombstones` table in
    * the manifest — the common case keeps its unchanged scan plan). */
  private def liveIndexTable(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, snap: IndexStore.Snapshot, table: String,
      keyCol: String): DataFrame =
    if (!snap.tables.contains("tombstones"))
      IndexStore.readTable(spark, indexDir, snap, table)
    else tombstoneSubtract(
      IndexStore.readTableTagged(spark, indexDir, snap, table, "__seg"),
      "__seg",
      IndexStore.readTableTagged(spark, indexDir, snap, "tombstones",
        "__tseg"),
      keyCol, "__tseg")

  /** The foreachBatch replay decision for an incremental dedup step
    * running under a streaming `batchId` — the mechanism behind the
    * manifest's `last_batch` / `last_batch_base` watermark props:
    *  - batch ABOVE the watermark (or no watermark yet) → None: normal
    *    step; the append records the new watermark.
    *  - batch AT the watermark → the engine is REPLAYING a micro-batch
    *    whose append already committed (crash between the step and the
    *    sink's checkpoint commit). Returns the PRE-append snapshot the
    *    recorded `last_batch_base` manifest names: dedup against it
    *    reproduces the first attempt's survivors EXACTLY (the step is
    *    deterministic), and the caller must skip the append — the
    *    batch's fingerprints are already in the index.
    *  - batch BELOW the watermark → loud failure: a foreachBatch engine
    *    only ever replays the LAST committed batch, so this is a wiring
    *    bug (two streams on one index, or ids not from the engine). */
  private[api] def replayBase(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, snap: IndexStore.Snapshot, batchId: Option[Long],
      op: String): Option[IndexStore.Snapshot] =
    batchId.flatMap { b =>
      snap.props.get("last_batch").map(_.toLong) match {
        case Some(lb) if b < lb =>
          throw new IllegalArgumentException(
            s"$op: batch id $b is below the index's replay watermark $lb " +
              s"at $indexDir — batch ids must be nondecreasing (a " +
              "foreachBatch engine only ever replays the last committed " +
              "batch, so a lower id means two writers share this index)")
        case Some(lb) if b == lb =>
          val baseVer = snap.props("last_batch_base").toInt
          Some(IndexStore.resolveAt(spark, indexDir, baseVer).getOrElse(
            throw new IllegalStateException(
              s"$op: replaying batch $b needs the pre-append manifest " +
                s"v$baseVer of $indexDir, which no longer exists. " +
                "indexVacuum retains the replay-base manifest by " +
                "construction, so something OUTSIDE the store deleted " +
                "it (manual cleanup, or an external retention job on " +
                "the _manifests dir)")))
        case _ => None
      }
    }

  /** The latest committed snapshot of an index, failing loudly — and
    * NAMING the builder to call — when `indexDir` holds none (a raw
    * path error here reads like a data bug, not a wiring bug). A
    * pre-versioning layout (top-level docs/bands or centroids/corpus
    * dirs from a release before the manifest protocol) is detected and
    * named rather than misreported as "no index". */
  private[api] def indexSnapshot(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, what: String, builder: String): IndexStore.Snapshot =
    IndexStore.resolve(spark, indexDir)
      .getOrElse(noIndex(spark, indexDir, what, builder))

  /** [[indexSnapshot]]'s failure: `indexDir` holds no index. */
  private def noIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, what: String, builder: String): Nothing = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = Seq("docs", "centroids").exists(t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$t")))
    throw new IllegalArgumentException(
      if (legacy)
        s"the $what index at $indexDir uses the pre-versioning layout " +
          s"(no _manifests dir) — rebuild it with $builder under this " +
          "release's snapshot protocol"
      else s"no $what index at $indexDir — build one with $builder first")
  }

  /** Compact a [[fingerprintBuild]] index: every [[fingerprintAppend]]
    * adds at least one segment (≥ 1 parquet file) per table, so a
    * long-running micro-batch ingest accretes thousands of small files
    * and the candidate join's scan goes metadata-bound. One
    * [[compactCommit]] rewrites docs and bands into `filesPerTable`
    * files each (live rows unchanged — spec-pinned) in a fresh version
    * dir and drops the tombstones: in-flight searches keep their
    * resolved snapshot, the superseded segments stay on disk until
    * [[indexVacuum]], and the replay watermark carries forward. A crash
    * at ANY point leaves the live index untouched (the unpublished
    * version is unreferenced; its CLAIM residue makes the next writer
    * fail loudly until cleared). */
  def fingerprintCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, filesPerTable: Int = 1): Unit =
    compactBandIndex(spark, indexDir, filesPerTable, "fingerprintCompact",
      "fingerprint", "fingerprintBuild", "doc_id")

  /** [[fingerprintCompact]]'s twin for the [[srpIndexBuild]] index —
    * the two band families share the manifest layout, so the commit is
    * identical. */
  def srpIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, filesPerTable: Int = 1): Unit =
    compactBandIndex(spark, indexDir, filesPerTable, "srpIndexCompact",
      "SRP embedding", "srpIndexBuild", "vec_id")

  private def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, filesPerTable: Int, op: String, what: String,
      builder: String, keyCol: String): Unit = {
    require(filesPerTable >= 1, "files per table must be >= 1")
    compactCommit(spark, indexDir, op, what, builder) { (base, v) =>
      // retraction-aware rewrite: the LIVE row set is unchanged
      // (spec-pinned)
      BandTables.foreach { t =>
        liveIndexTable(spark, indexDir, base, t, keyCol)
          .repartition(filesPerTable).write.parquet(s"$indexDir/$v/$t")
      }
      BandTables
    }
  }

  /** [[fingerprintCompact]]'s twin for the [[ivfBuild]] index: appends
    * accrete segments inside each inverted list; this rewrites `corpus`
    * back to the BUILD's layout — one file per list (rows of a list
    * land in one task, exactly ivfBuild's repartition(bucket) shape),
    * keeping the bucket-partitioned dirs and so [[ivfSearch]]'s
    * partition pruning. The frozen `centroids` table is carried
    * forward, never rewritten. Same [[compactCommit]] contract as
    * [[fingerprintCompact]]: atomic publish, snapshot-isolated readers,
    * superseded segments reclaimed by [[indexVacuum]]. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    compactCommit(spark, indexDir, "ivfCompact", "IVF", "ivfBuild") {
      (base, v) =>
        // retraction-aware fold; a fully-retracted corpus folds to a
        // schema-bearing EMPTY segment, never a fileless one
        // ([[writeBucketedOrEmpty]])
        writeBucketedOrEmpty(
          liveIndexTable(spark, indexDir, base, "corpus", "vid"),
          s"$indexDir/$v/corpus")
        Seq("corpus")
    }

  /** RETRACT vectors (by id) from an [[ivfBuild]] index —
    * [[fingerprintRetract]]'s ANN sibling, completing the family claim
    * that EVERY persisted index can forget: after the commit,
    * [[ivfSearch]] stops returning the retracted vectors (erased
    * content is no longer queryable) and [[ivfCompact]] folds their
    * rows away. Same merge-on-read tombstone mechanism, sequencing
    * rule (an id re-appended via [[ivfAppend]] after its retraction is
    * searchable again), no-op/loud-null edge contract, and separate
    * `last_retract` replay watermark as the band twins. Search cost off
    * the retract path is unchanged (no tombstones table → the plain
    * pruned scan); with tombstones pending, the probed-bucket read
    * carries one small anti-join until the next compact. */
  def ivfRetract(removed: DataFrame, idCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    indexRetractIds(removed, idCol, indexDir, "ivfRetract",
      "IVF", "ivfBuild", "vid", batchId)

  /** Reclaim disk from a persistent index (any family — they share
    * the [[IndexStore]] layout): delete every version dir, manifest,
    * and stale CLAIM that no RETAINED snapshot references. Retained:
    * the newest `keepVersions` manifests (default 1 = just the latest),
    * plus — always, regardless of `keepVersions` — the replay-base
    * manifest the latest `last_batch_base` watermark names and its
    * segments, so a cron'd vacuum can never strand a foreachBatch
    * crash-replay ([[CurationPipeline.curateIncremental]]'s batchId
    * path replays against that snapshot). `keepVersions = N` is the
    * reader-horizon knob: a reader that resolved its snapshot up to N−1
    * publishes ago survives the vacuum; older readers fail loudly at
    * read time. Returns the deleted names. */
  def indexVacuum(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, keepVersions: Int = 1): Seq[String] =
    IndexStore.vacuum(spark, indexDir, keepVersions)

  /** Operational summary of a persistent index (any family on the
    * [[IndexStore]] — the DESCRIBE a production operator runs
    * before/after a compact or when debugging a replay): one row per
    * logical table with its live segment count and row count, plus the
    * snapshot version and the replay watermark props on every row.
    * Segment counts are the compaction signal (a long-running
    * micro-batch ingest accretes one per append);
    * `last_batch`/`last_batch_base` are the crash-replay state
    * ([[CurationPipeline.curateIncremental]]). Cost: O(manifest)
    * driver-side plus one count job per table. */
  def describeIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    import spark.implicits._
    val snap = IndexStore.resolve(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"describeIndex: no committed index at $indexDir"))
    snap.tables.toSeq.sortBy(_._1).map { case (t, segs) =>
      (t, segs.size, IndexStore.readTable(spark, indexDir, snap, t).count(),
        snap.version,
        snap.props.getOrElse("last_batch", null),
        snap.props.getOrElse("last_batch_base", null))
    }.toDF("table", "segments", "rows", "version",
      "last_batch", "last_batch_base")
  }

  /** The digest-index logical tables ([[digestIndexBuild]]). */
  private val DigestTables = Seq("digests")

  /** The digest index's partition key: the md5 digest's leading 6 hex
    * chars (24 bits) mod `nBuckets` — a pure function of the digest, so
    * build, append, and probe always bucket identically and the history
    * read can prune to the buckets a batch actually touches. */
  private def digestBucket(digest: Column, nBuckets: Int): Column =
    pmod(conv(substring(digest, 1, 6), 16, 10).cast("long"),
      lit(nBuckets.toLong)).cast("int")

  /** Build a PERSISTENT exact-dedup digest index at `indexDir` — the
    * third member of the against-history family ([[fingerprintBuild]]
    * holds token-Jaccard sketches, [[srpIndexBuild]] holds embedding
    * sketches; this holds the corpus's DISTINCT md5 content digests), and
    * the scale completion of [[dedupAgainstCorpus]]: that operator
    * re-reads and re-hashes ALL of history's text on every arriving
    * batch, where a probe against this index reads only pre-computed
    * 32-byte digests — and only the bucket partitions the batch's own
    * digests land in ([[dedupExactAgainstCorpus]]'s touched-bucket
    * pruning), so per-batch cost is governed by the batch, not by
    * history. Committed through the [[IndexStore]] versioned-snapshot
    * protocol (atomic publish, snapshot-isolated readers, loud
    * concurrent-writer failure, [[indexVacuum]] reclaim — the band
    * families' exact lifecycle). The partition layout rides as the
    * `n_buckets` prop (plus `bloom_fpp` when the sidecar is on), so
    * every later append/probe buckets exactly as the build did. Logical
    * tables:
    *  - `digests` — (digest, last_write) partitioned by `bucket = `
    *    leading 24 bits of the digest mod n_buckets; `last_write` is
    *    the version of the commit that wrote the row — persisted as
    *    DATA (not inferred from the physical segment) so
    *    [[digestIndexCompact]]'s rewrite cannot reset a digest's age
    *    and `retainFromVersion` stays exact across compacts.
    * Size `nBuckets` so a typical BATCH touches a small fraction of
    * them: a 1k-doc batch against 4096 buckets reads ~22% of history's
    * digest files, against 65536 ~1.5% — and digests are ~3 orders of
    * magnitude smaller than the text they stand for either way.
    *
    * `bloomFpp` (opt-in) adds the `blooms` sidecar: one Bloom filter
    * per bucket (sized exactly per bucket at this false-positive rate,
    * ~1.2 B/digest at 0.01), maintained by every append and rebuilt by
    * every compact IN the same manifest version as the digests it
    * covers. The probe then splits a batch BEFORE the index scan:
    * bloom-miss rows are definitively novel (Bloom filters have no
    * false negatives) and skip the scan entirely, so only buckets with
    * at least one bloom HIT are read at all. At 100 TB this inverts
    * the probe's cost driver — a mostly-novel batch (the steady state
    * of an ingest: most arriving content is new) stops paying for
    * history's touched slice and pays ~fpp of it instead; duplicates
    * and the ~fpp false positives take the normal pruned-scan path,
    * so verdicts are IDENTICAL with and without the sidecar
    * (property-pinned). Retraction does not shrink blooms (they
    * cannot forget) — a tombstoned digest still bloom-hits, flows
    * through the scan path, and the tombstone subtraction gives the
    * exact verdict; the next compact rebuilds the sidecar tight. */
  def digestIndexBuild(corpus: DataFrame, textCol: String,
      indexDir: String, nBuckets: Int = 1024,
      bloomFpp: Option[Double] = None): Unit = {
    require(nBuckets >= 1 && nBuckets <= (1 << 20),
      s"nBuckets must be in 1..${1 << 20} (got $nBuckets)")
    bloomFpp.foreach(f => require(f > 0 && f < 1,
      s"bloomFpp must be in (0, 1) (got $f)"))
    val spark = corpus.sparkSession
    IndexStore.commit(spark, indexDir, "digestIndexBuild") { (_, v) =>
      // null text has no digest and can never match an anti-join probe
      // (the raw dedupAgainstCorpus's convention exactly) — don't store it.
      // `last_write` is the digest's PERSISTED age (the version of the
      // commit that wrote it) — carried as data, not inferred from the
      // physical segment, so a compact's rewrite does not reset it and
      // retainFromVersion keeps its "LAST true write" meaning
      val dg = corpus.select(md5(col(textCol)).as("digest")).distinct()
        .filter(col("digest").isNotNull)
        .withColumn("last_write", lit(IndexStore.versionOf(v)))
        .withColumn("bucket", digestBucket(col("digest"), nBuckets))
        .localCheckpoint(false)
      bucketExchange(dg)
        .write.partitionBy("bucket").parquet(s"$indexDir/$v/digests")
      // Bloom sidecar (opt-in): one filter per bucket, committed in the
      // SAME manifest version as the digests it covers — the probe
      // enables its pre-filter only when the two tables' version lists
      // are identical, so a sidecar can never silently under-cover
      bloomFpp.foreach(f =>
        writeBloomSegment(dg, f, s"$indexDir/$v/blooms"))
      ((DigestTables ++ bloomFpp.map(_ => "blooms"))
        .map(_ -> Seq(v)).toMap,
        Map("n_buckets" -> nBuckets.toString) ++
          bloomFpp.map(f => "bloom_fpp" -> f.toString))
    }
    ()
  }

  /** Append a batch's content digests to a [[digestIndexBuild]] index —
    * bucketed with the INDEX's recorded layout. Unlike the band
    * families (which must append the FULL batch because precedence is
    * by id), exact dedup only needs the index to stay the DISTINCT
    * digest set of everything seen: a dropped row's digest is already
    * present (in history, or via the surviving batch-mate that shares
    * it), so appending just the batch's distinct digests — or just
    * [[dedupExactAgainstCorpus]]'s survivors, which carry exactly the
    * batch's novel digests — keeps the index minimal and exact. Raw
    * batches appended here WITHOUT a prior dedup may re-add digests
    * history already holds; reads are set-semantics (anti-join), so
    * duplicates cost only segment bytes until [[digestIndexCompact]]
    * folds them. Empty batches are a no-op ([[ivfAppend]]'s stance —
    * no version churn). Committed through [[deltaCommit]] like every
    * append. */
  def digestIndexAppend(fresh: DataFrame, textCol: String,
      indexDir: String): Unit =
    digestAppendDigests(
      fresh.select(md5(col(textCol)).as("digest")).distinct()
        .localCheckpoint(false), indexDir)

  /** [[digestIndexAppend]] over a prebuilt frame of distinct `digest`
    * values. `batchId` records the foreachBatch replay watermark
    * (`last_batch` / `last_batch_base`) exactly as
    * [[fingerprintAppendSketch]] does. */
  private[api] def digestAppendDigests(dg: DataFrame, indexDir: String,
      batchId: Option[Long] = None): Unit =
    deltaCommit(dg.sparkSession, indexDir, "digestIndexAppend", "digest",
        "digestIndexBuild", batchId, negate = false, dg.isEmpty) {
      (base, v) =>
        // layout from the CLOSURE's base snapshot: a retry against a
        // concurrently REBUILT index (different nBuckets) must bucket
        // its rows under the winner's layout, or the pruned probe and
        // compact scans would silently miss them
        val nBuckets = base.prop("n_buckets").toInt
        val fppOpt = base.props.get("bloom_fpp").map(_.toDouble)
        val dgb = dg.filter(col("digest").isNotNull)
          .withColumn("last_write", lit(IndexStore.versionOf(v)))
          .withColumn("bucket", digestBucket(col("digest"), nBuckets))
          .localCheckpoint(false)
        bucketExchange(dgb)
          .write.partitionBy("bucket").parquet(s"$indexDir/$v/digests")
        // a bloom-bearing index keeps its sidecar version-locked to the
        // digests table: this segment's filters cover exactly this
        // segment's digests (probe ORs per-bucket across segments)
        fppOpt.foreach(f =>
          writeBloomSegment(dgb, f, s"$indexDir/$v/blooms"))
        DigestTables ++ fppOpt.map(_ => "blooms")
    }

  /** RETRACT content digests from a [[digestIndexBuild]] index — the
    * erasure half of the index lifecycle ([[corpusDiff]]'s `removed`
    * work-list is the canonical input): after this commits, a probe
    * ([[dedupExactAgainstCorpus]] / [[digestAntiJoin]]) treats the
    * retracted digests as ABSENT, so re-ingests of that content are
    * accepted again and erased content stops gating anything. Without
    * it a legitimately removed document's digest would reject re-ingests
    * of its content forever — the first thing a crawl refresh or a
    * takedown hits.
    *
    * MERGE-ON-READ, not rewrite: the retract batch's distinct digests
    * land in a `tombstones` table (bucketed exactly like `digests` —
    * probes prune both to the touched buckets), so a retract costs
    * O(batch), never O(touched history slice); [[digestIndexCompact]]
    * folds tombstones into the digest set and drops the table, after
    * which probes pay zero tombstone overhead again (they already pay
    * none when no retract ever ran — the subtraction join only exists
    * while the table does). An eager touched-bucket rewrite was
    * REJECTED by design: segments are whole-table bucket-partitioned
    * unions, so old segments would still carry the retracted rows —
    * correctness would need per-bucket segment ownership, a different
    * store.
    *
    * Tombstones are SEQUENCED (Iceberg's equality-delete rule, on the
    * store's version chain): a tombstone kills equal digests written at
    * any version ≤ its own, and a digest re-appended AFTER the
    * retraction is live again — so retract → re-ingest → probe drops the
    * re-ingested content exactly as a fresh index would (spec-pinned).
    * Retracting a digest the index never held is a harmless no-op at
    * read time (set semantics). Null text digests to null and is
    * skipped, [[digestIndexAppend]]'s convention. Empty batches are a
    * no-op (no version churn). Committed through [[deltaCommit]];
    * `batchId` records the RETRACT replay watermark (`last_retract` —
    * deliberately separate from the append watermark `last_batch`, so
    * a micro-batch that retracts AND appends crashes between the two
    * commits and still converges on replay: the retract skips, the
    * append proceeds). A replayed retract (batchId at the watermark)
    * is a committed no-op; below the watermark fails loudly (two
    * retract writers on one index). */
  def digestIndexRetract(removed: DataFrame, textCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    digestRetractDigests(
      removed.select(md5(col(textCol)).as("digest")).distinct()
        .localCheckpoint(false), indexDir, batchId)

  /** [[digestIndexRetract]] over a prebuilt frame of distinct `digest`
    * values — the form a caller holding old-snapshot digests (a
    * content-level sync: retract digests(old) ∖ digests(new)) feeds
    * directly. */
  private[api] def digestRetractDigests(dg: DataFrame, indexDir: String,
      batchId: Option[Long] = None): Unit = {
    val dgClean = dg.filter(col("digest").isNotNull)
    deltaCommit(dg.sparkSession, indexDir, "digestIndexRetract", "digest",
        "digestIndexBuild", batchId, negate = true, dgClean.isEmpty) {
      (base, v) =>
        // layout from the CLOSURE's base snapshot (same hazard as the
        // append): tombstones bucketed under a stale layout after a
        // concurrent rebuild would be invisible to the pruned
        // probe/compact scans — retracted content would keep gating
        val nBuckets = base.prop("n_buckets").toInt
        dgClean
          .withColumn("bucket", digestBucket(col("digest"), nBuckets))
          .transform(bucketExchange)
          .write.partitionBy("bucket").parquet(s"$indexDir/$v/tombstones")
        Seq("tombstones")
    }
  }

  /** The replay decision of a batch-driven append (`negate = false`,
    * on the `last_batch` watermark) or retract (`negate = true`, on the
    * SEPARATE `last_retract` watermark): true = this batchId's delta
    * already committed, so the caller must not commit it again — a
    * replayed append would double its rows (bm25 postings, clf
    * features and DSIR/LM counts are SUMMED per key, so the corruption
    * is silent), a replayed retract would write tombstones at a later
    * sequence version and kill a legitimately re-appended row. Unlike
    * the incremental DEDUP steps, which must re-derive their first
    * attempt's survivors against the recorded pre-append base
    * ([[replayBase]]), a plain delta has no result to reproduce:
    * skipping IS the whole replay story. Below the watermark fails
    * loudly ([[replayBase]]'s wiring-bug stance). */
  private[api] def deltaReplayed(snap: IndexStore.Snapshot,
      batchId: Option[Long], op: String, negate: Boolean): Boolean =
    batchId.exists { b =>
      val (key, kind) =
        if (negate) ("last_retract", "retract") else ("last_batch", "append")
      snap.props.get(key).map(_.toLong) match {
        case Some(w) if b < w =>
          throw new IllegalArgumentException(
            s"$op: batch id $b is below the $kind replay watermark $w — " +
              "batch ids must be nondecreasing (a foreachBatch engine only " +
              "ever replays the last committed batch, so a lower id means " +
              s"two $kind writers share this index)")
        case Some(w) => b == w
        case None => false
      }
    }

  /** The watermark props a batch-driven commit publishes: appends
    * record `last_batch` + `last_batch_base` (the pre-append version a
    * composed dedup step's replay must time-travel to), retracts the
    * separate `last_retract`. */
  private[api] def batchProps(batchId: Option[Long], baseVersion: Int,
      negate: Boolean): Map[String, String] =
    batchId.map { b =>
      if (negate) Map("last_retract" -> b.toString)
      else Map("last_batch" -> b.toString,
        "last_batch_base" -> baseVersion.toString)
    }.getOrElse(Map.empty)

  /** Control-flow signal for the IN-COMMIT replay gate: thrown by
    * [[skipIfReplayed]] inside a commit callback, swallowed by
    * [[swallowReplay]] at the call site — the commit machinery's
    * failure path releases the claim and drops partial data, so the
    * store is untouched. */
  private[api] final class ReplaySkipException extends RuntimeException

  /** The replay gate AT THE AUTHORITATIVE READ: a pre-commit check
    * alone has a zombie-writer hole — two drivers replaying the same
    * batch both pass the outside gate, the loser's commitWithRetry
    * re-runs its callback against the winner's fresh base and commits
    * the batch a SECOND time. Calling this first thing inside the
    * callback closes it: the base snapshot the callback receives is
    * resolved under the claim, so the winner's watermark is visible
    * there. The pre-commit check stays as a cheap fast path that avoids
    * claim churn on the common single-writer replay. */
  private[api] def skipIfReplayed(base: IndexStore.Snapshot,
      batchId: Option[Long], op: String, negate: Boolean): Unit =
    if (deltaReplayed(base, batchId, op, negate))
      throw new ReplaySkipException

  /** Runs a batch-driven commit, treating [[ReplaySkipException]] as
    * the documented no-op. */
  private[api] def swallowReplay(body: => Unit): Unit =
    try body catch { case _: ReplaySkipException => () }

  /** The one commit body of every index family's append and retract
    * (all but [[packIndexAppend]], whose replay re-derives offsets from
    * a past snapshot). In order:
    *  1. the pre-commit replay fast path ([[deltaReplayed]] on the
    *     latest snapshot) — BEFORE the emptiness shortcut, so a
    *     below-watermark batch id (two writers on one index) fails
    *     loudly even on an empty trigger, and a missing index fails
    *     with [[indexSnapshot]]'s builder-naming message;
    *  2. an empty batch (`isEmpty`) is a no-op: no version churn, no
    *     empty segment, the watermark deliberately not advanced —
    *     replaying it re-runs the same no-op;
    *  3. [[IndexStore.commitWithRetry]]: a delta derives only from the
    *     batch plus the base the callback receives, so a loser to a
    *     concurrent writer recommits against the winner's snapshot;
    *  4. the in-commit replay gate ([[skipIfReplayed]]) on the base
    *     resolved under the claim;
    *  5. `write(base, vdir)` writes the delta's segments and returns
    *     the tables it wrote; each gains segment `vdir`, every other
    *     table is carried unchanged;
    *  6. the base props carry forward, plus the batch's watermark
    *     ([[batchProps]]). */
  private[api] def deltaCommit(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, op: String, what: String, builder: String,
      batchId: Option[Long], negate: Boolean, isEmpty: => Boolean)(
      write: (IndexStore.Snapshot, String) => Seq[String]): Unit = {
    if (deltaReplayed(indexSnapshot(spark, indexDir, what, builder),
        batchId, op, negate) || isEmpty) return
    swallowReplay(IndexStore.commitWithRetry(spark, indexDir, op) {
      (baseOpt, v) =>
        val base = baseOpt.getOrElse(noIndex(spark, indexDir, what, builder))
        skipIfReplayed(base, batchId, op, negate)
        val wrote = write(base, v)
        (base.tables ++
          wrote.map(t => t -> (base.tables.getOrElse(t, Nil) :+ v)),
          base.props ++ batchProps(batchId, base.version, negate))
    })
  }

  /** The one commit body of every index family's compact, through
    * [[IndexStore.commitWithRetry]] (a compact derives only from its
    * base, so a retry against a concurrent writer's snapshot is safe).
    * `write(base, vdir)` rewrites tables from the base and returns
    * their names; each becomes the single segment `vdir`. Every other
    * base table is CARRIED FORWARD unchanged (frozen tables such as
    * IVF centroids and IVF-PQ codebooks are never rewritten) except
    * `tombstones`, which a compact folds and drops. The base props
    * (layout and replay watermarks) carry forward. A missing index
    * fails with [[indexSnapshot]]'s builder-naming message. */
  private[api] def compactCommit(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, op: String, what: String, builder: String)(
      write: (IndexStore.Snapshot, String) => Seq[String]): Unit = {
    IndexStore.commitWithRetry(spark, indexDir, op) { (baseOpt, v) =>
      val base = baseOpt.getOrElse(noIndex(spark, indexDir, what, builder))
      val wrote = write(base, v)
      (base.tables - "tombstones" ++ wrote.map(_ -> Seq(v)), base.props)
    }
    ()
  }

  /** A history table minus its SEQUENCED tombstones — the merge-on-read
    * subtraction every retraction-aware reader runs: a tombstone kills
    * equal-keyed rows from segments at or below its own version, so a
    * key re-appended after the retraction is live again. `rows` /
    * `tombs` must be [[IndexStore.readTableTagged]] reads (carrying
    * `segCol` / `tsegCol`); the tombstone side is expected tiny next to
    * history (AQE broadcasts it), and when no retract ever ran the
    * caller skips this entirely — zero overhead off the retract path. */
  private def tombstoneSubtract(rows: DataFrame, segCol: String,
      tombs: DataFrame, keyCol: String, tsegCol: String,
      dropSeg: Boolean = true): DataFrame = {
    val t = tombs.select(col(keyCol).as("__tkey"), col(tsegCol))
    val live = rows.join(t, rows(keyCol) === col("__tkey") &&
      col(tsegCol) >= rows(segCol), "left_anti")
    if (dropSeg) live.drop(segCol) else live
  }

  /** Write a (possibly empty) bucket-partitioned index table segment.
    * A ZERO-ROW partitionBy write emits no part files at all, and a
    * manifest referencing a fileless dir fails every later read
    * ("unable to infer schema" — the hazard [[ivfAppend]] documents
    * for empty batches). Appends dodge it by skipping the commit;
    * a COMPACT cannot skip (folding a fully-retracted index to empty
    * is a legitimate outcome that must still publish), so the empty
    * case writes the table PLAIN (one schema-bearing empty file, the
    * bucket as a data column — readers' `bucket` filters apply
    * unchanged, there is just nothing to prune). */
  /** Bucket-parallel exchange for a `partitionBy("bucket")` write: an
    * EXPLICIT partition count (defaultParallelism), because a keyed
    * `repartition(col("bucket"))` with no count is AQE-coalesced by
    * data size — at segment-write scale (small deltas, many buckets)
    * that serialized the creation of 64 bucket-dir files onto 1-2
    * tasks, measured at ~0.35-1.2 s PER SEGMENT WRITE in the r17
    * JobProfile decomposition (guide §2.5/§6: partition the write so
    * file creation parallelizes). A bucket still hashes to exactly one
    * task, so the file-per-bucket layout — and every reader's
    * partition pruning — is byte-identical; only the writing
    * parallelism changes, and at cluster scale defaultParallelism
    * spreads the buckets over the executors exactly as before. */
  private def bucketExchange(df: DataFrame): DataFrame =
    df.repartition(
      math.max(df.sparkSession.sparkContext.defaultParallelism, 1),
      col("bucket"))

  /** Input-split guard for CPU-heavy per-row derivations (guide §2.5:
    * "one huge unsplittable file … repartition immediately after the
    * read"): a tiny parquet source is ONE split however small
    * `maxPartitionBytes` is (a row group cannot straddle splits), so
    * every tokenize/sketch/codec pass downstream of it runs on one
    * core while the rest idle — measured as the single-task 0.9-1.2 s
    * map stages inside the r17 heavy-cell JobProfiles. Fires only when
    * the scan yields fewer partitions than the session's parallelism
    * AND the source is small enough that the missing splits cannot
    * exist (< defaultParallelism × 128 MB, the default split size) —
    * at scale both conditions fail and the plan is untouched, so this
    * never adds a data-sized shuffle where the scan was already
    * parallel. Round-robin keeps the redistribution key-free (Spark's
    * sort-before-repartition makes it retry-deterministic). */
  private[graft] def fanOutForCpu(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val p = sc.defaultParallelism
    if (df.rdd.getNumPartitions < p &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <
          BigInt(p.toLong) * (128L << 20))
      df.repartition(p)
    else df
  }

  /** Run INDEPENDENT Spark actions concurrently from a bounded driver
    * pool (guide §2.6 "overlap independent jobs"): the table writes of
    * one commit that share no data dependency (uni/big gram counts,
    * parents/edges, stats/docs sidecars) otherwise serialize their
    * fixed costs — at segment-write scale each is a short
    * under-parallelized job, so overlapping them back-fills the idle
    * cores; at cluster scale FIFO scheduling gives the same back-fill
    * (the second job's tasks ride the first job's tail). All thunks
    * are awaited even on failure (no half-started write keeps running
    * into the commit's cleanup) and the first failure rethrows
    * unwrapped, so the IndexStore abort path sees the original loud
    * error. */
  private[graft] def inParallel(thunks: (() => Unit)*): Unit =
    if (thunks.lengthCompare(1) <= 0) thunks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(thunks.length)
      try {
        val futs = thunks.map(t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = t()
          }))
        val results = futs.map(f => scala.util.Try(f.get()))
        results.foreach {
          case scala.util.Failure(e: java.util.concurrent.ExecutionException)
            if e.getCause != null => throw e.getCause
          case scala.util.Failure(e) => throw e
          case _ => ()
        }
      } finally pool.shutdown()
    }

  private def writeBucketedOrEmpty(df: DataFrame, path: String): DataFrame = {
    val pinned = df.localCheckpoint(false)
    // WRITE-FIRST, then detect the empty case from the filesystem (no
    // bucket=* partition dir materialized): the old pre-check paid one
    // extra Spark action per segment write to ask a question the write
    // itself answers. An empty partitioned write leaves no readable
    // parquet footer, so it is re-written plain (schema-bearing) —
    // same fallback layout as before.
    bucketExchange(pinned).write.partitionBy("bucket").parquet(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.listStatus(p).exists(_.isDirectory))
      pinned.coalesce(1).write.mode("overwrite").parquet(path)
    // the PINNED frame is what the bytes came from — callers that derive
    // sidecar stats (bm25 N/Σdl, dsir totals) aggregate THIS, never the
    // input again: a second scan of a non-deterministic input (a sample,
    // an unstable source) could disagree with the written segment and
    // silently skew every later probe
    pinned
  }

  /** Build one Bloom filter per bucket over a (digest, bucket) frame —
    * the [[digestIndexBuild]] sidecar segment. Two passes, both
    * distributed: a per-bucket count (so each filter is sized EXACTLY
    * for its bucket at `fpp` — `BloomFilter.create` needs n up front),
    * broadcast back (O(n_buckets) rows), then one hash shuffle on the
    * bucket so each filter is built once by the task that owns its
    * bucket — never a map-side partial that would shuffle filter-sized
    * buffers instead of 40-byte digest rows. `mapPartitions` is the
    * right tool here (the VERDICT-sanctioned case): a Bloom insert loop
    * has no Catalyst expression form. Emits (bucket, n_items, bloom).
    * ~1.44·log2(1/fpp)/8 bytes per digest (1.2 B at fpp 0.01) — three
    * orders of magnitude under the text the digests stand for. */
  private def bloomSegment(dg: DataFrame, fpp: Double): DataFrame = {
    val spark = dg.sparkSession
    import spark.implicits._
    val counts = dg.groupBy("bucket").agg(count(lit(1)).as("__n"))
    dg.join(broadcast(counts), "bucket")
      .select(col("bucket").cast("int"), col("digest"), col("__n"))
      .transform(bucketExchange)
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap
          .empty[Int, (Long, org.apache.spark.util.sketch.BloomFilter)]
        it.foreach { r =>
          val b = r.getInt(0)
          val bf = m.getOrElseUpdate(b, (r.getLong(2),
            org.apache.spark.util.sketch.BloomFilter
              .create(math.max(r.getLong(2), 1L), fpp)))._2
          bf.putString(r.getString(1))
        }
        m.iterator.map { case (b, (n, bf)) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (b, n, bos.toByteArray)
        }
      }
      .toDF("bucket", "n_items", "bloom")
  }

  /** Write a blooms sidecar segment (plain table — n_buckets rows, the
    * bucket as a data column; nothing to partition-prune at this size).
    * Empty input still writes a schema-bearing file so the manifest
    * entry stays readable (the [[writeBucketedOrEmpty]] rule). */
  private def writeBloomSegment(dg: DataFrame, fpp: Double,
      path: String): Unit =
    bloomSegment(dg, fpp).coalesce(1).write.parquet(path)

  /** Probe-side guard: a batch's Bloom pre-filter collects the TOUCHED
    * buckets' filters to the driver (bounded metadata, like IVF's
    * probed centroids); past this many bytes the probe falls back to
    * the plain pruned scan rather than risk the driver. At fpp 0.01
    * this bound covers ~190 M touched-bucket digests — and the scan it
    * replaces would be reading ~25× that in digest bytes. */
  private val MaxProbeBloomBytes: Long = 256L << 20


  /** Incremental EXACT dedup against a persisted [[digestIndexBuild]]
    * index — [[dedupAgainstCorpus]] with the history side swapped from
    * "re-hash all of history's text" to "read the pruned digest
    * partitions": drop every `fresh` row whose content digest already
    * exists in the index, then keep-best dedup within the batch
    * ([[exactDedupRows]] — argmax `scoreCol`, ties to the smallest id).
    * Row-for-row equal to [[dedupAgainstCorpus]] over the corpus the
    * index holds (spec-pinned; exact dedup has no recall trade — the
    * digest either exists or it does not).
    *
    * Scale shape: the batch's digests land in at most min(|batch|,
    * n_buckets) buckets; those bucket ids are collected driver-side
    * (O(n_buckets) bounded — index metadata, like IVF's probed lists)
    * and the history read prunes to exactly those partitions in every
    * segment. The anti-join's history side is therefore proportional
    * to the TOUCHED slice of history's digest set, not to history's
    * text. Emits the surviving fresh rows with all their columns.
    * Does NOT write; append survivors (or the batch's digests) with
    * [[digestIndexAppend]], or use [[dedupExactAndAppend]]. */
  def dedupExactAgainstCorpus(fresh: DataFrame, idCol: String,
      textCol: String, scoreCol: String, indexDir: String): DataFrame =
    dedupExactDigests(fresh, idCol, textCol, scoreCol, indexDir, None)

  /** [[dedupExactAgainstCorpus]] with an explicit snapshot override —
    * the replay time-travel seam [[dedupExactAndAppend]] uses. */
  private[api] def dedupExactDigests(fresh: DataFrame, idCol: String,
      textCol: String, scoreCol: String, indexDir: String,
      snapshot: Option[IndexStore.Snapshot]): DataFrame = {
    val spark = fresh.sparkSession
    val snap = snapshot.getOrElse(
      indexSnapshot(spark, indexDir, "digest", "digestIndexBuild"))
    exactDedupRows(digestAntiJoin(fresh, textCol, indexDir, snap),
      idCol, textCol, scoreCol)
  }

  /** The bucket-pruned history HALF of [[dedupExactAgainstCorpus]]:
    * drop every `fresh` row whose content digest exists in the index
    * snapshot, WITHOUT the within-batch keep-best pass — the exact
    * pre-filter [[CurationPipeline.curateIncremental]] composes in
    * front of the near-dup band join (which owns within-batch
    * precedence there: smaller id wins, not best score). Same pruning
    * shape as the full operator: the batch's digests touch at most
    * min(|batch|, n_buckets) partitions and only those are read. */
  private[api] def digestAntiJoin(fresh: DataFrame, textCol: String,
      indexDir: String, snap: IndexStore.Snapshot): DataFrame = {
    val spark = fresh.sparkSession
    val nBuckets = snap.prop("n_buckets").toInt
    // null text digests to null and matches nothing — not a bucket probe
    val touched = fresh
      .select(digestBucket(md5(col(textCol)), nBuckets).as("b"))
      .filter(col("b").isNotNull)
      .distinct().collect().map(_.getInt(0)).toSeq
    // the pruned history read (+ merge-on-read tombstone subtraction
    // while a retract table exists; the plain single-scan plan otherwise)
    def histFor(bks: Seq[Int]): DataFrame =
      if (!snap.tables.contains("tombstones"))
        IndexStore.readTable(spark, indexDir, snap, "digests")
          .filter(col("bucket").isin(bks: _*))
      else tombstoneSubtract(
        IndexStore.readTableTagged(spark, indexDir, snap, "digests", "__seg")
          .filter(col("bucket").isin(bks: _*)),
        "__seg",
        IndexStore.readTableTagged(spark, indexDir, snap, "tombstones",
            "__tseg")
          .filter(col("bucket").isin(bks: _*)),
        "digest", "__tseg")
    // Bloom pre-filter ([[digestIndexBuild]]'s `bloomFpp` sidecar),
    // engaged only when the sidecar is version-locked to the digests
    // table (identical manifest version lists — an index manipulated
    // by a sidecar-unaware writer simply degrades to the plain scan)
    // and the touched filters fit the driver-metadata bound. A
    // bloom-MISS row is definitively novel (no false negatives) and
    // skips the scan; only buckets with ≥1 HIT are read at all —
    // mostly-novel batches (the ingest steady state) stop paying for
    // history's touched slice.
    val bloomable = snap.props.contains("bloom_fpp") &&
      snap.tables.get("blooms").contains(snap.tables("digests"))
    val filters: Map[Int, Array[org.apache.spark.util.sketch.BloomFilter]] =
      if (!bloomable) Map.empty
      else {
        val rows = IndexStore.readTable(spark, indexDir, snap, "blooms")
          .filter(col("bucket").isin(touched: _*))
          .select("bucket", "bloom").collect()
        if (rows.iterator.map(_.getAs[Array[Byte]]("bloom").length.toLong)
            .sum > MaxProbeBloomBytes) Map.empty
        else rows.groupBy(_.getInt(0)).view.mapValues(_.map(r =>
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))))
          .toMap
      }
    if (filters.isEmpty) {
      val hist = histFor(touched)
      fresh.join(hist, md5(fresh(textCol)) === hist("digest"), "left_anti")
    }
    else {
      // family-standard reserved-column guard for the tagging pass
      val clash = fresh.columns.toSeq.intersect(Seq("__dg", "__might"))
      require(clash.isEmpty,
        s"digest probe uses columns __dg, __might internally; input " +
          s"already has ${clash.mkString(", ")} — rename them")
      val bc = spark.sparkContext.broadcast(filters)
      val might = udf((b: java.lang.Integer, d: String) =>
        b != null && d != null &&
          bc.value.get(b).exists(_.exists(_.mightContainString(d))))
      // one pinned pass tags every row; the two consumers (sure-novel
      // union, maybe anti-join) and the hit-bucket collect share it
      val tagged = fresh
        .withColumn("__dg", md5(col(textCol)))
        .withColumn("__might",
          might(digestBucket(col("__dg"), nBuckets), col("__dg")))
        .localCheckpoint(false)
      val hitBuckets = tagged.filter(col("__might"))
        .select(digestBucket(col("__dg"), nBuckets).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val maybe = tagged.filter(col("__might"))
      val hist = histFor(hitBuckets)
      tagged.filter(!col("__might")).drop("__dg", "__might")
        .unionByName(
          maybe.join(hist, maybe("__dg") === hist("digest"), "left_anti")
            .drop("__dg", "__might"))
    }
  }

  /** The one-call incremental exact step — [[dedupExactAgainstCorpus]]
    * then append the survivors' digests, which ARE the batch's novel
    * digests (one survivor per novel digest by construction), so the
    * index stays exactly the distinct digest set of everything seen.
    * The survivor set is pinned (eager checkpoint) BEFORE the index
    * mutates, and foreachBatch replay idempotence is mechanized through
    * `batchId` exactly as in [[dedupEmbAndAppend]]: a replayed batch
    * time-travels to the recorded pre-append snapshot, reproduces its
    * survivors, and skips the second append. A batch that drops
    * entirely appends nothing and leaves the watermark unmoved —
    * replaying it re-runs the same deterministic no-op. */
  def dedupExactAndAppend(fresh: DataFrame, idCol: String, textCol: String,
      scoreCol: String, indexDir: String,
      batchId: Option[Long] = None): DataFrame = {
    val spark = fresh.sparkSession
    val snap = indexSnapshot(spark, indexDir, "digest", "digestIndexBuild")
    replayBase(spark, indexDir, snap, batchId, "dedupExactAndAppend") match {
      case Some(pre) =>
        dedupExactDigests(fresh, idCol, textCol, scoreCol, indexDir,
          Some(pre)).localCheckpoint(true)
      case None =>
        val pinned = dedupExactDigests(fresh, idCol, textCol, scoreCol,
          indexDir, Some(snap)).localCheckpoint(true)
        digestAppendDigests(
          pinned.select(md5(col(textCol)).as("digest")), indexDir, batchId)
        pinned
    }
  }

  /** [[fingerprintCompact]]'s twin for the digest index: fold every
    * appended segment back into one partitioned table, de-duplicating
    * digests that raw [[digestIndexAppend]] calls may have re-added,
    * and FOLDING [[digestIndexRetract]]'s tombstones — the live digest
    * set (digests minus sequenced tombstones) is written plain and the
    * tombstones table is dropped from the manifest, so post-compact
    * probes pay zero tombstone overhead again. The LIVE digest set is
    * unchanged by the fold (spec-pinned); segment and file counts drop
    * to one per touched bucket. Same [[compactCommit]] contract:
    * atomic publish, snapshot-isolated readers, props (including the
    * replay watermarks) carried forward.
    *
    * `retainFromVersion` is the RETENTION dial — the operational
    * sibling of retraction (that forgets NAMED content; this forgets
    * STALE content wholesale): when set, a digest whose LAST write
    * (build or any re-append) landed in a manifest version BELOW the
    * horizon is dropped in the fold, so content not re-seen since the
    * horizon stops gating re-ingests — sliding-window dedup (news
    * corpora, recrawl feeds) without enumerating what to forget. The
    * horizon is a VERSION (read `describeIndex` / note the version at
    * your time horizon); versions are the store's native monotone
    * clock, so the rule stays exact under replays and races where
    * wall-clock file times would lie. Keeping a digest ALIVE is
    * therefore just re-appending it ([[digestIndexAppend]] of the
    * still-live corpus slice, or the natural re-ingest traffic). Ages
    * survive compacts: `last_write` is a persisted column the fold
    * max-reduces and carries through, so a hygiene compact between
    * appends does NOT refresh anything's age — a later horizon still
    * drops exactly the digests whose last true build/append predates
    * it (spec-pinned). */
  def digestIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, retainFromVersion: Option[Int] = None): Unit =
    compactCommit(spark, indexDir, "digestIndexCompact", "digest",
        "digestIndexBuild") { (base, v) =>
      // the horizon guard compares against the newest DIGEST-WRITING
      // segment, not the manifest version: retract/compact commits
      // advance the version chain without writing digests, so a
      // horizon read off the latest version after one of those would
      // pass a <= base.version check and then SILENTLY age out every
      // digest — exactly what this require makes loud
      retainFromVersion.foreach { h =>
        val maxSeg = base.tables("digests")
          .map(s => s.stripPrefix("v").takeWhile(_.isDigit).toInt).max
        require(h <= maxSeg,
          s"digestIndexCompact: retainFromVersion v$h is above the " +
            s"newest digest-writing commit v$maxSeg — every digest " +
            "would age out (non-digest commits like retracts advance " +
            "the version chain); to wipe the index, rebuild it instead")
      }
      val fppOpt = base.props.get("bloom_fpp").map(_.toDouble)
      val tagged =
        IndexStore.readTableTagged(spark, indexDir, base, "digests", "__seg")
      val live =
        if (!base.tables.contains("tombstones")) tagged
        else tombstoneSubtract(tagged, "__seg",
          IndexStore.readTableTagged(spark, indexDir, base, "tombstones",
            "__tseg"),
          "digest", "__tseg", dropSeg = false)
      // one aggregation carries both folds: distinct-set dedup (max
      // over re-appends) and the retention horizon. A digest's age is
      // the PERSISTED `last_write` column (the version of the commit
      // that last wrote it), NOT the physical segment tag — a compact
      // rewrites every digest into its own segment, so folding on
      // `__seg` would reset every age to the compact's version and a
      // hygiene compact between appends would silently neutralize the
      // sliding-window retention; `last_write` rides the rewrite
      // unchanged, keeping "LAST write (build or any re-append)" exact
      // across any number of compacts
      val folded = live.groupBy("digest")
        .agg(max("last_write").as("last_write"), max("bucket").as("bucket"))
      val kept = retainFromVersion.fold(folded)(h =>
          folded.filter(col("last_write") >= h))
        .select("digest", "bucket", "last_write")
        .localCheckpoint(false)
      writeBucketedOrEmpty(kept, s"$indexDir/$v/digests")
      // the sidecar rebuilds TIGHT from the folded live set — this is
      // where retracted/aged-out digests actually leave the filters
      // (blooms cannot forget incrementally)
      fppOpt.foreach(f =>
        writeBloomSegment(kept, f, s"$indexDir/$v/blooms"))
      DigestTables ++ fppOpt.map(_ => "blooms")
    }

  /** Incremental NEAR-dup dedup against a persisted [[fingerprintBuild]]
    * index — the near-dup half of [[dedupAgainstCorpus]]'s incremental
    * lifecycle: drop every `fresh` row that near-duplicates (token
    * Jaccard ≥ minPct/100) ANYTHING already in the index, or a
    * SMALLER-id doc within the batch itself.
    *
    * Precedence: HISTORY always wins (like [[dedupAgainstCorpus]]'s
    * exact check — id plays no role against the index, and a re-ingested
    * identical doc drops); within a batch, earliest id wins. When
    * batches arrive in nondecreasing id order (the natural append-only
    * ingestion: every id in a batch exceeds everything already indexed),
    * sequential processing is EXACTLY EQUIVALENT to one-shot — by
    * arrival time everything in the index has a smaller id, the sketch
    * is per-doc pure, and the index accumulates every doc — so for ANY
    * monotone split of a corpus, dedup∘append over the batches keeps
    * exactly the rows a single-batch run keeps (spec-pinned).
    * Out-of-order arrival stays deterministic, first-seen-wins: a doc
    * arriving before its lower-id near-dup survives, and that later
    * arrival then drops against it — exactly one of the pair is kept,
    * just not the id-minimal one (a doc is never re-examined).
    * Note this is pairwise first-wins dedup, not transitive-closure
    * clustering ([[connectedComponents]] + [[dedupApply]] do that in one
    * shot): a doc drops iff it DIRECTLY pairs with a smaller-id doc —
    * closure across batch boundaries would require re-clustering all of
    * history on every batch.
    *
    * Shuffle shape is the scale path end-to-end: candidates meet on a
    * (band, sig) equi-join against the persisted band table ∪ the
    * batch's own bands (never all-pairs; size-ratio prefilter inside the
    * join), pair dedup is band OWNERSHIP — only the row whose join band
    * is the pair's first agreeing band survives, a filter over the
    * sigs vectors both docs tables already persist — plus one pair-slim
    * hash exchange on the fresh id (which doubles as the dropped-id
    * distinct's distribution), NOT an Exchange+HashAggregate over the
    * raw band fan-out; verification is EXACT Jaccard on the stored
    * token sets via the codegen'd zero-allocation sorted-merge kernel
    * ([[graft.functions.IntersectSize]], single-eval threshold algebra
    * inter·(100+p) ≥ (|A|+|B|)·p) against the PHYSICAL row that
    * generated the candidate (an un-retracted same-id re-ingest
    * verifies against history's stored content, never its own) — so
    * precision is 1.0 and the single approximation is LSH recall (a
    * missed candidate pair can let a near-dup survive; the same trade as
    * [[minhashLshPairs]] vs [[jaccardPairs]], and every drop is a TRUE
    * near-dup — the suite pins dropped ⊆ exact-dropped). Emits the
    * surviving fresh rows with all their columns. Does NOT write:
    * call [[fingerprintAppend]] with the full batch afterwards.
    *
    * `maxBucketSize` is the skew guard for UNBOUNDED history — the
    * [[TextAnalysis.winnowedOverlapPairs]] `maxDocFreq` analog: a
    * (band, signature) bucket holding more than that many docs is
    * boilerplate-degenerate (near-identical template docs), and every
    * fresh doc hashing into it would otherwise fan out against ALL of
    * them — the candidate join's one quadratic hot-key risk as the index
    * grows. The cap drops such buckets from the INDEX∪batch side before
    * the join (one aggregation over the band table), bounding any
    * bucket's fan-out at the cap. The trade is explicit: a pair whose
    * EVERY agreeing band is that hot stops matching (pairs still collide
    * through any non-hot band — identical docs agree on all `bands`
    * buckets, so all would need to be hot to miss them), and bucket
    * occupancy depends on what is indexed so far, so the
    * batch∘append ≡ one-shot guarantee holds exactly only at the
    * default None. A cap also forfeits the ownership dedup (a pair's
    * first agreeing band may sit in a dropped hot bucket while a later
    * band keeps the pair alive), so the capped path dedups pairs with a
    * distinct instead. */
  def dedupNearAgainstCorpus(fresh: DataFrame, idCol: String,
      textCol: String, indexDir: String, minPct: Int = 80,
      maxBucketSize: Option[Int] = None,
      stageKey: Option[String] = None): DataFrame = {
    // ONE resolve: the sketch shape and the probed history come from
    // the same snapshot
    val snap = indexSnapshot(fresh.sparkSession, indexDir, "fingerprint",
      "fingerprintBuild")
    dedupNearSketched(fresh, idCol, indexSketch(fresh, idCol, textCol, snap),
      indexDir, minPct, maxBucketSize, Some(snap), stageKey)
  }

  /** [[dedupNearAgainstCorpus]] over a prebuilt [[indexSketch]] of
    * `fresh` — the sharing point curateIncremental uses so the dedup
    * check and the subsequent append sketch the batch once, not twice. */
  private[api] def dedupNearSketched(fresh: DataFrame, idCol: String,
      sk: DataFrame, indexDir: String, minPct: Int,
      maxBucketSize: Option[Int],
      snapshot: Option[IndexStore.Snapshot] = None,
      stageKey: Option[String] = None): DataFrame = {
    require(minPct > 0 && minPct <= 100, "minPct must be in 1..100")
    require(maxBucketSize.forall(_ >= 2), "maxBucketSize must be >= 2")
    val spark = fresh.sparkSession
    // ONE snapshot resolve covers both history tables — bands and docs
    // always agree, however many appends/compacts land mid-query
    // (`snapshot` overrides for curateIncremental's replay time travel)
    val snap = snapshot.getOrElse(
      indexSnapshot(spark, indexDir, "fingerprint", "fingerprintBuild"))
    // four consumers (probe bands, union bands, verify docs, union docs)
    // share the ONE sketch leaf — lazy local checkpoint, curate's contract
    val freshBands = sk.select(col("doc_id"), col("sz"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    val freshDocs = sk.select("doc_id", "sz", "tk", "sigs")
    // history side carries unconditional precedence; the in-batch side
    // only outranks larger ids (earliest-in-batch wins). Both history
    // tables read RETRACTION-AWARE (liveIndexTable): tombstoned docs
    // neither generate candidates (bands) nor verify against history's
    // stored token sets (docs) — a retracted-then-re-appended id's old
    // row must not shadow its refreshed content
    val allBands = hotBucketFilter(
      liveIndexTable(spark, indexDir, snap, "bands", "doc_id")
        .select("doc_id", "sz", "band", "sig").withColumn("hist", lit(true))
        .unionByName(freshBands.withColumn("hist", lit(false))),
      maxBucketSize)
    // `hist` rides the docs union too: it disambiguates the one id that
    // can legitimately appear on BOTH sides (an un-retracted re-ingest),
    // so a pair always verifies against the PHYSICAL row that generated
    // it — never against the fresh doc's own content via an id-equal
    // history candidate (the old shape could drop such a doc by
    // self-match even when the stored history content wasn't similar)
    val allDocs = liveIndexTable(spark, indexDir, snap, "docs", "doc_id")
      .select("doc_id", "sz", "tk", "sigs").withColumn("hist", lit(true))
      .unionByName(freshDocs.withColumn("hist", lit(false)))
    val joined = freshBands
      .select(col("band"), col("sig"), col("doc_id").as("fid"),
        col("sz").as("fsz"))
      .join(allBands.select(col("band"), col("sig"),
        col("doc_id").as("oid"), col("sz").as("osz"), col("hist")),
        Seq("band", "sig"))
      .filter((col("hist") || col("oid") < col("fid")) &&
        col("fsz") * 100 >= col("osz") * minPct &&
        col("osz") * 100 >= col("fsz") * minPct)
    val cand0 =
      if (maxBucketSize.isEmpty) {
        // band-OWNERSHIP dedup (minhashLshPairs' trick, feasible here
        // because both docs tables persist the full `sigs` vector): a
        // (fid, oid) pair collides once per agreeing band — up to
        // `bands` duplicate rows — and only the row whose join band is
        // the FIRST agreeing band survives, so pair dedup is a filter
        // over two sigs-attaching joins instead of an Exchange +
        // HashAggregate over the raw band-join fan-out (measured as the
        // majority of the q114 candidates stage: 7.2M fan-out rows
        // distinct down to 1.7M pairs on the degenerate sf0.1 corpus).
        // Under a bucket cap the trick is UNSOUND — a pair's first
        // agreeing band may sit in a dropped hot bucket while a later
        // band keeps the pair alive — so the capped path keeps the
        // distinct.
        // bands count from the PINNED snapshot's props, not a fresh
        // latest-manifest resolve: the function's one-snapshot
        // invariant (and the replay override) must cover this read too
        // — a concurrent rebuild with fewer bands committing between
        // two resolves would make the fold shorter than the sigs
        // arrays actually read, silently dropping any pair whose only
        // agreeing band sits past the new count
        val nBands = snap.prop("bands").toInt
        val firstAgree =
          firstAgreeingBand(nBands, col("__fsg"), col("__osg"))
        joined.select("fid", "oid", "band", "hist")
          .join(freshDocs.select(col("doc_id").as("fid"),
            col("sigs").as("__fsg")), "fid")
          .join(allDocs.select(col("doc_id").as("oid"), col("hist"),
            col("sigs").as("__osg")), Seq("oid", "hist"))
          .filter(col("band") === firstAgree)
          .select("fid", "oid", "hist")
          // ownership is a broadcast-join chain, so these rows inherit
          // the history BANDS SCAN's split layout — on a compacted index
          // that can be ONE split, and the exact-verify stage downstream
          // would run single-partition (measured 9.6 s vs 2.3 s at
          // sf0.1). The pair-slim hash exchange restores verify
          // parallelism and REPLACES the shuffle the old pair-distinct
          // paid (same bytes), and partitioning by fid is exactly the
          // distribution the final dropped-fid distinct needs, so no
          // further exchange follows it
          .repartition(col("fid"))
      } else joined.select("fid", "oid", "hist").distinct()
    // instrumentation dial (the bench's q114 row): when a stageKey is
    // set, the candidate join and the exact-Jaccard verify materialize
    // SEPARATELY under StageTimer, so a bench delta on the row is
    // attributable to candidate fan-out vs verify cost without a
    // rerun. Default None keeps the fused single-plan shape — zero
    // behavior or plan change off the bench path
    val cand = stageKey.fold(cand0)(k =>
      graft.engine.StageTimer.time(s"$k:candidates")(
        cand0.localCheckpoint(true)))
    val ver = cand
      .join(freshDocs.select(col("doc_id").as("fid"), col("sz").as("fsz"),
        col("tk").as("ftk")), "fid")
      .join(allDocs.select(col("doc_id").as("oid"), col("hist"),
        col("sz").as("osz"), col("tk").as("otk")), Seq("oid", "hist"))
    // native sorted-merge count (tk is sorted+distinct by construction,
    // minhashDocSketch): zero-allocation exact verify — the stage is
    // ~10⁶ candidate pairs on the degenerate bench corpus, and
    // size(array_intersect(..)) pays a hash set + result array PER PAIR
    GraftExtensions.register(spark)
    val inter = expr("graft_intersect_size(ftk, otk)").cast("long")
    // algebraic single-eval form: inter·100 ≥ (fsz+osz−inter)·p
    // ⟺ inter·(100+p) ≥ (fsz+osz)·p — the naive form mentions `inter`
    // twice and a join-condition predicate gets NO common-subexpression
    // elimination, so the kernel would run twice per candidate pair
    val dropped0 = ver
      .filter(inter * (100 + minPct) >= (col("fsz") + col("osz")) * minPct)
      .select(col("fid")).distinct()
    val dropped = stageKey.fold(dropped0)(k =>
      graft.engine.StageTimer.time(s"$k:verify")(
        dropped0.localCheckpoint(true)))
    fresh.join(dropped, fresh(idCol) === col("fid"), "left_anti")
  }

  /** Exact set-similarity self-join: every pair of rows whose `setCol`
    * (array of distinct tokens) Jaccard is ≥ minPct/100 — COMPLETE recall,
    * subquadratic candidates via AllPairs/PPJoin prefix filtering. If
    * J(A,B) ≥ t, then A's |A|−⌈t·|A|⌉+1 globally-rarest tokens must
    * intersect B's same prefix, so candidates come from an equi-join on
    * rare prefix tokens only. The global token order is (document
    * frequency asc, token asc) — a total order both documents compute from
    * a doc-partitioned window; no global rank, no corpus broadcast.
    * Verification is exact integer Jaccard inside the candidate join. */
  def jaccardPairs(sets: DataFrame, idCol: String, setCol: String,
      minPct: Int): DataFrame = {
    require(minPct >= 1 && minPct <= 100, "minPct must be in 1..100")
    GraftExtensions.register(sets.sparkSession)
    // Lazy local checkpoint: this frame has SIX consumers (token explode
    // via dfreq and prefix, candidate sides, left, right), and a logical
    // plan is a tree — as expressions each consumer would re-execute the
    // whole scan→set-build pipeline (6× the corpus read at deployment
    // scale; ReusedExchange can't collapse them because column pruning
    // makes the subtrees differ). The lazy checkpoint swaps the plan for
    // ONE shared RDD leaf: nothing runs at construction (the q61 binding
    // pins zero jobs until an action), the first action materializes the
    // set build exactly once to executor memory/disk blocks, and the
    // blocks are GC-released with the frame (same lifecycle and same
    // fault-tolerance contract as CurationPipeline.curate's fan-out
    // point, documented there: local checkpoint blocks are NOT rebuilt
    // on executor loss — the action fails and the caller retries).
    // sort_array + array_distinct here (not at the caller): set
    // semantics are order-free, the sorted-distinct form feeds the
    // zero-allocation merge-count verify (graft_intersect_size — see
    // minhashDocSketch's tk for the same move), and normalizing
    // ENFORCES the documented "array of distinct tokens" precondition —
    // an out-of-contract duplicate would otherwise inflate `sz` (wrong
    // jac) or trip the kernel's strictness check data-dependently deep
    // in the verify join
    val s = fanOutForCpu(sets).select(col(idCol).as("doc_id"),
        sort_array(array_distinct(col(setCol))).as("tk"))
      .withColumn("sz", size(col("tk")))
      .localCheckpoint(false)
    val tok = s.select(col("doc_id"), col("sz"), explode(col("tk")).as("token"))
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df").asc, col("token").asc)
    // prefix length = sz − ⌈(minPct/100)·sz⌉ + 1, with ⌈p·s/100⌉ = (p·s+99) div 100.
    // NOTE: SQL `div`, not Column./ — Spark's / is double division and a
    // fractional prefix bound would silently truncate the prefix (recall loss).
    val prefix = tok.join(dfreq, "token")
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= expr(s"sz - (sz * $minPct + 99) div 100 + 1"))
      .select("doc_id", "token")
    val cand = prefix.as("a").join(prefix.as("b"), Seq("token"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val left = s.select(col("doc_id").as("d1"), col("tk").as("tk1"), col("sz").as("sz1"))
    val right = s.select(col("doc_id").as("d2"), col("tk").as("tk2"), col("sz").as("sz2"))
    cand.join(left, "d1").join(right, "d2")
      .filter(col("sz1") * 100 >= col("sz2") * minPct &&
        col("sz2") * 100 >= col("sz1") * minPct)
      // single-eval threshold algebra (inter·(100+p) ≥ (sz1+sz2)·p —
      // dedupNearSketched documents why); the alias substitution of a
      // withColumn chain would re-evaluate the kernel per mention inside
      // the join condition. Passing pairs (few) re-evaluate it once more
      // for the emitted jac value.
      .withColumn("inter", expr("graft_intersect_size(tk1, tk2)"))
      .filter(col("inter") * (100 + minPct) >=
        (col("sz1") + col("sz2")) * minPct)
      .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / col("uni")).as("jac"))
      .orderBy("d1", "d2")
  }

  /** Word-n-gram shingle Jaccard near-dup pairs — EXACT and complete:
    * documents shingle into distinct word-n-gram digests, then
    * [[jaccardPairs]] runs the prefix-filtered exact similarity join over
    * the shingle sets. (A single-min-digest winnowing bucket join would
    * only find a true pair with probability ≈ its Jaccard; prefix
    * filtering keeps the equi-join candidate shape with recall 1.0.)
    * Digests are xxhash64 LONGs, not md5 strings: Jaccard depends only on
    * set cardinalities, so any injective digest gives identical pairs and
    * values, and 8-byte keys shuffle/compare ~4× cheaper than 32-char
    * hex — the digest never appears in the output. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minPct: Int = 60): DataFrame = {
    // let-bound digest build (split evaluates once per row — Tables
    // .ngramDigestsSql); jaccardPairs fences and exchange-shares the set
    // frame, so the digest pipeline runs once for all its consumers. Docs
    // below n tokens carry an empty array: they produce no prefix tokens,
    // so they can never become candidates, same outcome as the old
    // pre-filter.
    val sh = fanOutForCpu(docs).select(col(idCol).as("doc_id"),
      expr(graft.engine.Tables.ngramDigestsSql(textCol, n)).as("sh"))
    jaccardPairs(sh, "doc_id", "sh", minPct)
  }

  /** Edit-distance near-dup pairs: every pair of rows whose `strCol`
    * Levenshtein distance is ≤ `maxDist` (1 or 2) — COMPLETE recall via
    * SymSpell-style DELETION NEIGHBORHOODS: if lev(s, t) ≤ k then the
    * ≤k-deletion variant sets of s and t intersect, so candidates come
    * from an equi-join on variant digests — never an all-pairs compare —
    * and are verified with the exact `levenshtein` (codegen) inside the
    * join after a length-difference prefilter. The entity-resolution /
    * typo-clustering member of the dedup family (token sets → Jaccard,
    * dense vectors → SRP, strings → this). Neighborhood size is O(len^k)
    * variants per row — k = 2 on long strings multiplies the explode — so
    * the operator GUARDS its own blow-up: any `strCol` value longer than
    * `maxLen` (default 64 ⇒ ≤ ~4k variants/row at k = 2) FAILS THE JOB
    * LOUDLY (in-plan raise_error, the hashSplit null-key contract).
    * Truncating would silently equate strings that share a prefix — a
    * wrong answer, not a cheaper one — so the caller must normalize or
    * truncate keys DELIBERATELY upstream (or raise `maxLen` knowingly)
    * when rows carry whole documents. Emits (d1, d2, dist). */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1, maxLen: Int = 64): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "deletion neighborhoods are generated for maxDist in {1, 2}")
    require(maxLen >= 1, "maxLen must be positive")
    def del1(x: String, v: String) =
      s"""CASE WHEN length($x) >= 1 THEN
         |  transform(sequence(0, length($x) - 1),
         |    $v -> concat(substring($x, 1, $v), substring($x, $v + 2)))
         |ELSE CAST(array() AS array<string>) END""".stripMargin
    val varsExpr =
      if (maxDist == 1)
        s"array_distinct(concat(array(__s), ${del1("__s", "i")}))"
      else
        s"""array_distinct(concat(array(__s), ${del1("__s", "i")},
           |  flatten(transform(${del1("__s", "i")},
           |    v -> ${del1("v", "j")}))))""".stripMargin
    // the explicit exchange makes the self-join's sides a ReusedExchange
    // (AQE resolves the reuse at runtime; ExplainCheck hard-asserts it on
    // the final plan): the variant explode computes once per row
    val expl = fanOutForCpu(df).select(col(idCol).as("__id"), col(strCol).as("__s"))
      .withColumn("__s", when(length(col("__s")) > maxLen,
        raise_error(format_string(
          s"editDistancePairs: '$strCol' value of length %d exceeds " +
            s"maxLen=$maxLen — the O(len^$maxDist) deletion neighborhood " +
            "would explode; normalize/truncate keys upstream or raise maxLen",
          length(col("__s")))))
        .otherwise(col("__s")))
      .withColumn("__h", explode(expr(varsExpr)))
      .withColumn("__h", xxhash64(col("__h")))
      .repartition(col("__id"))
    def side(i: Int) = expl.select(col("__h"),
      col("__id").as(s"d$i"), col("__s").as(s"s$i"))
    side(1).join(side(2), Seq("__h"))
      .filter(col("d1") < col("d2") &&
        abs(length(col("s1")) - length(col("s2"))) <= maxDist)
      .select("d1", "s1", "d2", "s2").distinct()
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= maxDist)
      .select("d1", "d2", "dist")
      .orderBy("d1", "d2")
  }

  /** Embedding rows with double-cast vector and L2 norm — shared prep for
    * the cosine operators. The norm is NULL (not 0) for an all-zero
    * vector: 0/0 cosine would be NaN, and Spark orders NaN ABOVE every
    * double, so a zero vector would otherwise "match" every threshold
    * and rank first in every top-k. With a null norm the cosine is null,
    * null comparisons are false, and the top-k stages filter nulls — a
    * zero vector (no direction, no cosine) matches nothing and ranks
    * nowhere, on every operator uniformly. Registers graft_dot on the
    * frame's session (GraftExtensions), so no caller has to. */
  private def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    GraftExtensions.register(emb.sparkSession)
    emb.withColumn("emb", expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", nullif(sqrt(expr("graft_dot(emb, emb)")), lit(0.0)))
      .withColumnRenamed(idCol, "vec_id")
  }

  /** Exact embedding-cosine near-dup pairs at `minCosine` (4dp-rounded
    * boundary). All-pairs — the recall-1.0 baseline — but tiled, never
    * broadcast: rows hash into `numTiles` tiles, the left side replicates
    * each row to tile-pairs (tile, j ≥ tile) and the right to (i ≤ tile,
    * tile), and candidates meet on an EQUI-join over the tile pair. Every
    * unordered pair meets in exactly one task (same-tile pairs meet twice
    * and are halved by the id filter), each task holds two tiles — bounded
    * memory at any corpus size; pick numTiles so a tile fits an executor.
    * O(n²) compare cost is inherent to the exact baseline; use the bucketed
    * family (LSH/SimHash/IVF) when that is too much. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, numTiles: Int = 8): DataFrame = {
    require(numTiles >= 1, "numTiles must be positive")
    val e = withNorm(fanOutForCpu(emb), idCol, vecCol)
      .withColumn("tile", pmod(xxhash64(col("vec_id")), lit(numTiles)).cast("int"))
    val a = e.select(col("tile").as("ti"),
      explode(expr(s"sequence(tile, ${numTiles - 1})")).as("tj"),
      col("vec_id").as("id1"), col("emb").as("e1"), col("nrm").as("n1"))
    val b = e.select(explode(expr("sequence(0, tile)")).as("ti"),
      col("tile").as("tj"),
      col("vec_id").as("id2"), col("emb").as("e2"), col("nrm").as("n2"))
    a.join(b, Seq("ti", "tj"))
      .filter(col("ti") =!= col("tj") || col("id1") < col("id2"))
      .withColumn("cos", round(expr("graft_dot(e1, e2)") / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= minCosine)
      .select(least(col("id1"), col("id2")).as("d1"),
        greatest(col("id1"), col("id2")).as("d2"), col("cos"))
      .orderBy("d1", "d2")
  }

  /** `emb` with each vector assigned to its `nAssign` nearest trained
    * centroids: (vec_id, emb, nrm, cells = lid-ascending array of the
    * nAssign nearest cell ids, ccos = cosine to the single nearest).
    * The quantizer is the IVF family's deterministic spherical k-means
    * trainer ([[trainIvfCentroids]] — hash-sampled, reproducibly seeded)
    * and the assignment is an in-row rank over centroid plan literals
    * (array_sort + slice, [[probesOf]]'s shape) — zero shuffle, like
    * [[ivfBuild]]'s bucket step. */
  private def semAssign(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, lloydIters: Int, trainSampleMod: Int,
      seeding: String, nAssign: Int,
      stageKey: Option[String] = None): DataFrame = {
    require(nClusters >= 1, "nClusters must be positive")
    require(nAssign >= 1, "nAssign must be positive")
    // TWO views of the corpus: the TRAINER iterates scan-shaped jobs
    // (a fan-out exchange would re-execute per Lloyd iteration — the
    // exact regression that reverted the coarse-trainer pin), while
    // the ASSIGNMENT below materializes ONCE into the checkpoint, so
    // it takes the input-split fan-out where the interpreted
    // array_sort ranking would otherwise run on one core.
    val eTrain = withNorm(emb, idCol, vecCol)
    val e = withNorm(fanOutForCpu(emb), idCol, vecCol)
    // quantizer training is the eager (driver-looped Lloyd) half of the
    // cost; when a stageKey is set it books under `<key>:train` so a
    // bench delta is attributable to training vs pair search (the
    // q114 instrumentation-dial convention — None is plan-identical)
    val centers = stageKey.fold(
      trainIvfCentroids(eTrain, nClusters, lloydIters, trainSampleMod,
        seeding))(
      k => graft.engine.StageTimer.time(s"$k:train")(
        trainIvfCentroids(eTrain, nClusters, lloydIters, trainSampleMod,
          seeding)))
    val ranked = array_sort(array(centroidStructs(centers): _*))
    val cells = sort_array(expr(
      s"transform(slice(__ranked, 1, $nAssign), s -> s.lid)"))
    // PIN the assigned frame: the argmin ranking is an interpreted
    // higher-order expression (array_sort over centroid structs — no
    // codegen, no CSE), and every consumer re-executes the subtree —
    // pairsWithin scans it TWICE (the self-join's two exploded sides)
    // and semDedup a third time (the representative rule's score join).
    // The standard persist-before-self-join rule: one assignment pass,
    // cached rows after (at scale this is the paper's cached
    // cluster-assignment table; ~(dim·8 + nAssign·4) B/vector)
    e.withColumn("__ranked", ranked)
      .withColumn("cells", cells)
      .withColumn("ccos", -element_at(col("__ranked"), 1).getField("negcos"))
      .drop("__ranked")
      .localCheckpoint(false)
  }

  /** Cluster-then-compare semantic near-dup pairs over an embedding
    * column — the cluster-BOUNDED member of the dense-vector dedup
    * family, completing its candidate-generation triangle: tiled exact
    * all-pairs ([[embeddingNearDupPairs]], recall 1.0, O(n²) compares),
    * SRP banding ([[srpNearDupPairs]], collision-probability recall),
    * and this — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540, public): quantize with k-means, compare only
    * within a cluster. Candidates meet on ONE equi-join over the
    * cluster id, so compare cost is Σ|cluster|² instead of n² and a
    * cluster is the unit of task memory — at scale size `nClusters` so
    * an expected cluster fits a task (the paper runs ~10⁵ clusters at
    * 10⁸ docs; n / nClusters ≈ 10³ is the 100 TB shape). Every
    * candidate is verified with the EXACT cosine in-join (graft_dot
    * codegen, 4dp boundary like the exact baseline), so precision vs
    * [[embeddingNearDupPairs]] is 1.0 by construction — output ⊆ the
    * exact pairs; recall is the co-clustering rate (measured per corpus
    * in RECALL.md via graft.tools.RecallCheck; `nClusters = 1` IS the
    * exact baseline, spec-pinned row-for-row). RECALL IS A DIAL:
    * `nAssign` assigns each vector to its nAssign nearest cells
    * (multi-probe, IVF-nProbe's quantization-boundary fix) — a pair is
    * compared iff the two share ANY cell, recovering the true pairs a
    * single hard assignment splits across a cell boundary at ~nAssign²×
    * the compare cost (a pair sharing several cells is still emitted
    * once, owned by its smallest shared cell — an in-row filter, no
    * distinct shuffle). The committed RECALL.md curve on the
    * structure-free test corpus reads 0.2794 / 0.6618 / 0.9669 at
    * nAssign = 1 / 2 / 4 (a corpus this threshold-stressed needs the
    * dial high; at the ≥ 0.9 thresholds real near-dup corpora use,
    * duplicates are near-identical vectors and nAssign = 1–2 suffices —
    * the paper's operating point). The quantizer inherits the IVF
    * trainer's determinism, so the same corpus and dials always emit
    * the same pairs. Emits (d1, d2, cos), d1 < d2. Requires graft_dot
    * (GraftExtensions). */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, nClusters: Int = 16, lloydIters: Int = 3,
      trainSampleMod: Int = 1, seeding: String = IvfSeedDefault,
      nAssign: Int = 2, stageKey: Option[String] = None): DataFrame =
    pairsWithin(semAssign(emb, idCol, vecCol, nClusters, lloydIters,
      trainSampleMod, seeding, nAssign, stageKey), minCosine, nClusters)

  /** Within-cell exact-cosine pairs of a [[semAssign]] frame. Each side
    * explodes to its assigned cells and candidates meet on the cell
    * equi-join; a pair sharing SEVERAL cells (nAssign > 1) is emitted
    * exactly once — by its smallest shared cell (the firstAgreeingBand
    * ownership trick over the lid-sorted `cells` arrays: an in-row
    * array_min(array_intersect) filter, never a distinct shuffle). */
  private def pairsWithin(assigned: DataFrame, minCosine: Double,
      nClusters: Int): DataFrame = {
    // SALT the cell equi-join (guide §2.5): with few cells the join
    // key has ≤ nClusters·nAssign distinct values, so at most that
    // many tasks ever run and the largest cell is one task's
    // quadratic compare (measured: the q133 pairs stage ran ~16
    // tasks on 32 cores). The left side carries salt =
    // hash(id1) mod S and the right side replicates each row S ways,
    // so a pair still meets EXACTLY once per shared cell (the
    // ownership filter below is untouched) while the compare work
    // spreads over nClusters·S tasks. S sizes itself off the session
    // parallelism and collapses to 1 — replication-free, key shape
    // unchanged — once nClusters alone saturates the cores (the
    // 100 TB regime: the paper's ~10⁵ clusters).
    val p = assigned.sparkSession.sparkContext.defaultParallelism
    val salt = math.max(1, (2 * p + nClusters - 1) / nClusters)
    val a = assigned.select(explode(col("cells")).as("cl"),
      col("cells").as("c1"), col("vec_id").as("id1"),
      col("emb").as("e1"), col("nrm").as("n1"))
      .withColumn("__salt",
        pmod(xxhash64(col("id1")), lit(salt.toLong)).cast("int"))
    val b = assigned.select(explode(col("cells")).as("cl"),
      col("cells").as("c2"), col("vec_id").as("id2"),
      col("emb").as("e2"), col("nrm").as("n2"))
      .withColumn("__salt",
        explode(sequence(lit(0), lit(salt - 1))))
    a.join(b, Seq("cl", "__salt"))
      .filter(col("id1") < col("id2"))
      .filter(col("cl") === array_min(array_intersect(col("c1"), col("c2"))))
      .withColumn("cos",
        round(expr("graft_dot(e1, e2)") / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= minCosine)
      .select(col("id1").as("d1"), col("id2").as("d2"), col("cos"))
      .orderBy("d1", "d2")
  }

  /** [[semDedupPairs]] applied: keep ONE representative per semantic
    * group and return the surviving rows of `emb` (all original columns
    * plus `cluster`/`cluster_size` from [[dedupApply]]). Groups are
    * connected components of the [[semDedupPairs]] graph
    * ([[connectedComponents]] — pairs meet only in shared cells, but a
    * component may CHAIN across cells when nAssign > 1); the
    * representative is the member LEAST similar to its cluster centroid
    * (the paper's
    * diversity-keeping rule — interior members are the redundant ones,
    * the boundary member carries the information), ties to the smaller
    * id; rows in no pair survive as their own singleton. One pass,
    * deterministic end to end. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, nClusters: Int = 16, lloydIters: Int = 3,
      trainSampleMod: Int = 1, seeding: String = IvfSeedDefault,
      nAssign: Int = 2, stageKey: Option[String] = None): DataFrame = {
    val assigned = semAssign(emb, idCol, vecCol, nClusters, lloydIters,
      trainSampleMod, seeding, nAssign, stageKey)
    // connectedComponents eagerly materializes its (symmetrized) edge
    // input, so the within-cell pair join's cost lands HERE — a set
    // stageKey books it (plus the label propagation) under `<key>:pairs`;
    // the lazy tail (score join + dedupApply) is total − train − pairs
    val comps = stageKey.fold(
      connectedComponents(pairsWithin(assigned, minCosine, nClusters),
        "d1", "d2"))(
      k => graft.engine.StageTimer.time(s"$k:pairs")(
        connectedComponents(pairsWithin(assigned, minCosine, nClusters),
          "d1", "d2")))
    // dedupApply keeps the GREATEST score (ties → smallest id), so the
    // paper's least-centroid-similar rule rides a negated, 4dp-stable
    // score column joined back onto the caller's original frame
    val scored = emb.join(
      assigned.select(col("vec_id").as("__sid"),
        (-round(col("ccos"), 4)).as("__negccos")),
      emb(idCol) === col("__sid")).drop("__sid")
    dedupApply(scored, idCol, comps, scoreCol = Some("__negccos"))
      .drop("__negccos")
  }

  /** Signed-random-projection (hyperplane) LSH near-dup pairs over an
    * embedding column — the sub-quadratic candidate generator that
    * [[embeddingNearDupPairs]] exact-baselines, completing the approximate
    * dedup family (MinHash for token sets, SimHash for term vectors, SRP
    * for dense embeddings). Each vector sketches to `nBits` sign bits
    * (bit p = sign⟨v, h_p⟩ against `nBits` deterministic Rademacher ±1
    * hyperplanes from `seed` — P[bits agree] = 1 − θ/π, the SRP guarantee),
    * the sketch splits into `bands` bands, and candidates meet on a
    * (band, value) EQUI-join — never an all-pairs compare. Every candidate
    * is verified with the EXACT cosine inside the join (graft_dot codegen),
    * so precision is 1.0 by construction: output ⊆ the exact baseline's,
    * recall = the banding collision probability (dial `bands` up /
    * band width down for recall, down/up for cost — at the near-dup
    * thresholds real corpora use (cos ≥ 0.9, p_bit ≈ 0.9) 8×4-bit bands
    * give recall ≈ 0.97). A pair is emitted only by its first agreeing
    * band — dedup without a distinct shuffle. `dim` must equal the
    * embedding width (hyperplanes are plan literals, not inferred via a
    * driver job) and is ENFORCED in-plan: a row whose vector width differs
    * from `dim` fails the job loudly (raise_error) — graft_dot would
    * otherwise dot the common prefix, so a wrong `dim` would silently
    * sketch a prefix and lose recall with no error (precision would stay
    * 1.0 thanks to the exact verify, masking the bug). Requires graft_dot
    * (GraftExtensions). Emits (d1, d2, cos). */
  /** Per-vector SRP (signed-random-projection) sketch: the input with
    * (vec_id, emb double-cast, nrm, sigs = `bands` banded sign sketches
    * over `nBits` hyperplane dot products). The ±1 hyperplanes derive
    * deterministically from (seed, nBits, dim) — pure per vector and
    * reproducible from parameters alone, so a persisted index needs only
    * the four numbers in its props, never the planes. Wrong-width rows
    * fail loudly (`op` names the caller). Requires graft_dot
    * (GraftExtensions). */
  private def srpSketch(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, bands: Int, seed: Long, op: String): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    require(dim >= 1, "dim must be positive")
    val bandBits = nBits / bands
    require(bandBits <= 30, "band values must fit an int")
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] = Seq.fill(nBits)(
      Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
    val e = withNorm(emb, idCol, vecCol)
      .withColumn("emb", when(col("emb").isNull || size(col("emb")) =!= dim,
        raise_error(format_string(
          s"$op: '$vecCol' row of width %s != dim=$dim — a " +
            "prefix sketch would silently lose recall",
          coalesce(size(col("emb")).cast("string"), lit("NULL")))))
        .otherwise(col("emb")))
    val bit = planes.map(p =>
      (call_function("graft_dot", col("emb"), typedLit(p)) >= 0).cast("int"))
    val bandCols = (0 until bands).map { b =>
      (0 until bandBits).map(j => bit(b * bandBits + j) * lit(1 << j))
        .reduce(_ + _)
    }
    e.withColumn("sigs", array(bandCols: _*))
  }

  /** Build a PERSISTENT embedding near-dup index at `indexDir` — the
    * [[fingerprintBuild]] pattern for the dense-vector family: persist
    * every vector's SRP band sketch once, and let arriving batches
    * near-dup-check themselves against all of history
    * ([[dedupEmbAgainstCorpus]]) without rescanning history's vectors
    * against each other. Layout mirrors the fingerprint index — the
    * same [[IndexStore]] versioned-snapshot commit protocol (atomic
    * publish, loud concurrent-writer claim failure, [[indexVacuum]]
    * reclaim) over the same two logical tables: `docs` (vec_id, nrm,
    * emb, sigs — the verify side) and `bands` (vec_id, band, sig — the
    * candidate-join side), with the sketch parameters as the `dim`,
    * `n_bits`, `bands` and `seed` props. Compact with
    * [[srpIndexCompact]] when appends accrete segments. Requires
    * graft_dot (GraftExtensions). */
  def srpIndexBuild(emb: DataFrame, idCol: String, vecCol: String,
      indexDir: String, dim: Int, nBits: Int = 32, bands: Int = 8,
      seed: Long = 42L): Unit = {
    val spark = emb.sparkSession
    IndexStore.commit(spark, indexDir, "srpIndexBuild") { (_, v) =>
      srpSketch(emb, idCol, vecCol, dim, nBits, bands, seed, "srpIndexBuild")
        .select(col("vec_id"), col("nrm"), col("emb"), col("sigs"))
        .write.parquet(s"$indexDir/$v/docs")
      IndexStore.readWritten(spark, s"$indexDir/$v/docs")
        .select(col("vec_id"), posexplode(col("sigs")).as(Seq("band", "sig")))
        .write.parquet(s"$indexDir/$v/bands")
      (BandTables.map(_ -> Seq(v)).toMap,
        Map("dim" -> dim.toString, "n_bits" -> nBits.toString,
          "bands" -> bands.toString, "seed" -> seed.toString))
    }
    ()
  }

  /** Append a batch's SRP sketches to a [[srpIndexBuild]] index —
    * sketched with the INDEX's recorded parameters. Append the FULL
    * batch after [[dedupEmbAgainstCorpus]] (survivors and drops alike),
    * exactly [[fingerprintAppend]]'s contract and for the same reason:
    * later batches must measure against every vector already seen. */
  def srpIndexAppend(fresh: DataFrame, idCol: String, vecCol: String,
      indexDir: String): Unit = {
    val snap = indexSnapshot(fresh.sparkSession, indexDir, "SRP embedding",
      "srpIndexBuild")
    srpIndexAppendSketch(
      srpIndexSketch(fresh, idCol, vecCol, snap, "srpIndexAppend"), snap,
      indexDir)
  }

  /** A batch SRP-sketched with the parameters snapshot `snap` records,
    * materialized once behind a lazy local checkpoint — [[indexSketch]]'s
    * dense-vector twin, with the same rule that `snap` is the snapshot
    * the caller probes with ([[dedupEmbAndAppend]] computes it ONCE for
    * the dedup check and the append; the nBits projection pass is the
    * step's heaviest job). */
  private[api] def srpIndexSketch(df: DataFrame, idCol: String,
      vecCol: String, snap: IndexStore.Snapshot, op: String): DataFrame =
    srpSketch(df, idCol, vecCol, snap.prop("dim").toInt,
        snap.prop("n_bits").toInt, snap.prop("bands").toInt,
        snap.prop("seed").toLong, op)
      .select(col("vec_id"), col("nrm"), col("emb"), col("sigs"))
      .localCheckpoint(false)

  /** [[srpIndexAppend]] over a prebuilt [[srpIndexSketch]] made with
    * the parameters `shape` records — the same atomic commit, shape
    * check and optional replay watermark as
    * [[fingerprintAppendSketch]]. */
  private[api] def srpIndexAppendSketch(sk: DataFrame,
      shape: IndexStore.Snapshot, indexDir: String,
      batchId: Option[Long] = None): Unit =
    bandAppendSketch(sk, shape, indexDir, batchId, "srpIndexAppend",
      "SRP embedding", "srpIndexBuild",
      sk.select(col("vec_id"),
        posexplode(col("sigs")).as(Seq("band", "sig"))))

  /** The one-call incremental embedding step — [[dedupEmbAgainstCorpus]]
    * then [[srpIndexAppend]], SHARING one batch sketch (the projection
    * pass would otherwise run twice) and pinning the survivor set
    * (eager checkpoint) BEFORE the index mutates, exactly
    * [[CurationPipeline.curateIncremental]]'s contract — including its
    * foreachBatch replay caveat. */
  def dedupEmbAndAppend(fresh: DataFrame, idCol: String, vecCol: String,
      indexDir: String, minCosine: Double,
      maxBucketSize: Option[Int] = None,
      batchId: Option[Long] = None): DataFrame = {
    val spark = fresh.sparkSession
    val snap = indexSnapshot(spark, indexDir, "SRP embedding",
      "srpIndexBuild")
    val pre = replayBase(spark, indexDir, snap, batchId, "dedupEmbAndAppend")
    // sketched in the shape of the snapshot the dedup probes
    val sk = srpIndexSketch(fresh, idCol, vecCol, pre.getOrElse(snap),
      "dedupEmbAndAppend")
    pre match {
      case Some(_) =>
        // replay: identical survivors vs the pre-append history, no
        // second append — the batch's sketches are already indexed.
        // Pinned like the normal path, so the sink writes a
        // materialized result, not a lazy read of the pre-append
        // snapshot's segments (curateIncremental's replay contract)
        dedupEmbSketched(fresh, idCol, sk, indexDir, minCosine,
          maxBucketSize, pre).localCheckpoint(true)
      case None =>
        val pinned = dedupEmbSketched(fresh, idCol, sk, indexDir, minCosine,
          maxBucketSize, Some(snap)).localCheckpoint(true)
        srpIndexAppendSketch(sk, snap, indexDir, batchId)
        pinned
    }
  }

  /** Incremental EMBEDDING near-dup dedup against a persisted
    * [[srpIndexBuild]] index — [[dedupNearAgainstCorpus]]'s dense-vector
    * twin, completing the against-history family (exact md5 →
    * [[dedupAgainstCorpus]] / the [[digestIndexBuild]] index; token
    * Jaccard → the fingerprint index;
    * cosine → here): drop every `fresh` row whose cosine with ANYTHING
    * in the index reaches `minCosine` (history wins), or with a
    * smaller-id batch-mate. Identical precedence, composition
    * (monotone batch∘append ≡ one-shot), and out-of-order semantics as
    * the fingerprint twin, and the same precision story: candidates from
    * the banded equi-join, EXACT cosine verify in-join (the only
    * approximation is SRP band recall — identical vectors sketch
    * identically and can never be missed). Emits the surviving fresh
    * rows; call [[srpIndexAppend]] with the full batch afterwards.
    * `maxBucketSize` is [[dedupNearAgainstCorpus]]'s hot-bucket skew
    * guard, identically: template-vector buckets above the cap drop from
    * the candidate join (same trade, same composition caveat, default
    * None = exact behavior). Requires graft_dot (GraftExtensions). */
  def dedupEmbAgainstCorpus(fresh: DataFrame, idCol: String, vecCol: String,
      indexDir: String, minCosine: Double,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val snap = indexSnapshot(fresh.sparkSession, indexDir, "SRP embedding",
      "srpIndexBuild")
    dedupEmbSketched(fresh, idCol,
      srpIndexSketch(fresh, idCol, vecCol, snap, "dedupEmbAgainstCorpus"),
      indexDir, minCosine, maxBucketSize, Some(snap))
  }

  /** [[dedupEmbAgainstCorpus]] over a prebuilt [[srpIndexSketch]] of
    * `fresh` — the sharing point [[dedupEmbAndAppend]] uses. */
  private[api] def dedupEmbSketched(fresh: DataFrame, idCol: String,
      sk: DataFrame, indexDir: String, minCosine: Double,
      maxBucketSize: Option[Int],
      snapshot: Option[IndexStore.Snapshot] = None): DataFrame = {
    require(maxBucketSize.forall(_ >= 2), "maxBucketSize must be >= 2")
    val spark = fresh.sparkSession
    GraftExtensions.register(spark) // the verify join's graft_dot
    // ONE snapshot resolve covers both history tables (see
    // dedupNearSketched; `snapshot` is the replay override)
    val snap = snapshot.getOrElse(
      indexSnapshot(spark, indexDir, "SRP embedding", "srpIndexBuild"))
    // three consumers (probe bands, union bands, union docs) share the
    // ONE sketch leaf — lazy local checkpoint, curate's contract
    val freshBands = sk.select(col("vec_id"),
      posexplode(col("sigs")).as(Seq("band", "sig")))
    // retraction-aware history reads, dedupNearSketched's contract
    val allBands = hotBucketFilter(
      liveIndexTable(spark, indexDir, snap, "bands", "vec_id")
        .select("vec_id", "band", "sig").withColumn("hist", lit(true))
        .unionByName(freshBands.withColumn("hist", lit(false))),
      maxBucketSize)
    val allDocs = liveIndexTable(spark, indexDir, snap, "docs", "vec_id")
      .select("vec_id", "nrm", "emb")
      .unionByName(sk.select("vec_id", "nrm", "emb"))
    val cand = freshBands
      .select(col("band"), col("sig"), col("vec_id").as("fid"))
      .join(allBands.select(col("band"), col("sig"),
        col("vec_id").as("oid"), col("hist")), Seq("band", "sig"))
      .filter(col("hist") || col("oid") < col("fid"))
      .select("fid", "oid").distinct()
    val f = sk.select(col("vec_id").as("fid"), col("emb").as("fe"),
      col("nrm").as("fn"))
    val o = allDocs.select(col("vec_id").as("oid"), col("emb").as("oe"),
      col("nrm").as("on"))
    val dropped = cand.join(f, "fid").join(o, "oid")
      .filter(round(expr("graft_dot(fe, oe)") / (col("fn") * col("on")), 4)
        >= minCosine)
      .select(col("fid")).distinct()
    fresh.join(dropped, fresh(idCol) === col("fid"), "left_anti")
  }

  /** The hot-bucket skew guard shared by both against-history dedup
    * families: drop (band, sig) buckets holding more than `cap` rows
    * from the candidate-join build side (one aggregation over the band
    * stream; a probe row hitting a dropped bucket simply finds no
    * candidates). None disables the guard. */
  /** Band-OWNERSHIP dedup predicate: the index of the FIRST band where
    * the two rows' signature vectors agree. A (band, sig)-joined pair
    * collides once per agreeing band; keeping only the row whose join
    * band equals this fold dedups pairs without a distinct shuffle.
    * Shared by [[minhashLshPairs]], [[srpNearDupPairs]], and
    * [[dedupNearSketched]]'s uncapped candidate path — one definition
    * so the ownership semantics cannot drift between band families. */
  private def firstAgreeingBand(bands: Int, sg1: Column, sg2: Column): Column =
    (0 until bands).foldRight(lit(-1): Column) { (j, rest) =>
      when(sg1.getItem(j) === sg2.getItem(j), lit(j)).otherwise(rest)
    }

  private def hotBucketFilter(bands: DataFrame,
      cap: Option[Int]): DataFrame = cap match {
    case None => bands
    case Some(c) =>
      val hot = bands.groupBy("band", "sig")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > c)
        .select("band", "sig")
      bands.join(hot, Seq("band", "sig"), "left_anti")
  }

  def srpNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, dim: Int, nBits: Int = 32, bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    // the explicit exchange makes the self-join's two sides a
    // ReusedExchange: the nBits sketch dot-products compute ONCE per row
    // (same pattern as minhashLshPairs; AQE resolves the reuse at runtime
    // and ExplainCheck hard-asserts it on the final plan)
    val banded = srpSketch(emb, idCol, vecCol, dim, nBits, bands, seed,
        "srpNearDupPairs")
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("emb"), col("nrm"), col("sigs"),
        posexplode(col("sigs")).as(Seq("band", "sig")))
    def side(i: Int) = banded.select(
      col("band"), col("sig"), col("vec_id").as(s"id$i"),
      col("emb").as(s"e$i"), col("nrm").as(s"n$i"), col("sigs").as(s"sg$i"))
    val firstBand = firstAgreeingBand(bands, col("sg1"), col("sg2"))
    side(1).join(side(2), Seq("band", "sig"))
      .filter(col("id1") < col("id2"))
      .filter(col("band") === firstBand)
      .withColumn("cos",
        round(expr("graft_dot(e1, e2)") / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= minCosine)
      .select(col("id1").as("d1"), col("id2").as("d2"), col("cos"))
      .orderBy("d1", "d2")
  }

  /** Exact cosine top-k neighbors for the rows matching `queryPred`,
    * ranked on the 4dp-rounded cosine with id tiebreak (float-noise-proof
    * ordering). Ids are emitted as LONG (`idCol` must be integral).
    *
    * `queryPred` evaluates against the CALLER'S ORIGINAL columns — the
    * input frame as passed, before any internal renaming or derived
    * columns — so write it over `idCol`/`vecCol`/any input column
    * (`col("vec_id") <= 1`, `col("lang") === "en"`, …); internal names
    * like `emb`/`nrm` are not visible to it.
    *
    * Scale shape: the (small) query side is broadcast and the corpus is
    * STREAMED — one linear scan, embarrassingly parallel — then a bounded
    * typed Aggregator ([[graft.functions.TopKAgg]]) takes per-partition
    * top-k map-side, so the shuffle moves O(partitions × k) rows per query
    * instead of the corpus. The corpus is never broadcast. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame =
    cosineTopKJoin(emb.filter(queryPred), emb, idCol, vecCol, k,
      excludeSelf = true)

  /** Two-dataset kNN JOIN: for every `queries` row, its exact cosine top-k
    * among `corpus` — the cross-corpus retrieval form of [[cosineTopK]]
    * (evaluation queries against a training corpus, new batch against an
    * existing index, …). Both frames carry (`idCol`, `vecCol`); ranking is
    * the 4dp-rounded cosine with id tiebreak, ids emitted as LONG. Same
    * scale shape as cosineTopK: broadcast(queries) × STREAMED corpus, one
    * linear scan, bounded map-side top-k — O(partitions × k) shuffle rows.
    * `excludeSelf` drops id-equal pairs (the self-match when both frames
    * are the same table); leave it false for genuinely distinct datasets
    * where an id collision is a coincidence, not an identity. */
  def cosineTopKJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, excludeSelf: Boolean = false): DataFrame = {
    val q = withNorm(queries, idCol, vecCol)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    val c = withNorm(corpus, idCol, vecCol)
      .select(col("vec_id").as("vid"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    val cond = if (excludeSelf) col("qid") =!= col("vid") else lit(true)
    val topk = udaf(new graft.functions.TopKAgg(k))
    c.join(broadcast(q), cond)
      .withColumn("cos", round(expr("graft_dot(qemb, cemb)") / (col("qnrm") * col("cnrm")), 4))
      .filter(col("cos").isNotNull) // zero-norm rows have no cosine
      .groupBy("qid")
      .agg(topk(col("cos"), col("vid").cast("long")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rn"),
        col("n.id").as("vid"), col("n.score").as("cos"))
      .orderBy("qid", "rn")
  }

  /** BM25-ranked keyword retrieval — the LEXICAL member of the retrieval
    * family ([[cosineTopKJoin]] is the dense member, [[rrfFuse]] the
    * combiner): for every query (a bag of terms), the top-k `docs` by
    * the classic Okapi BM25 weighting (Robertson–Spärck Jones idf with
    * the +1 floor, so it stays positive even for terms in most docs):
    *   score(q,d) = Σ_{t∈q} ln(1 + (N − df_t + ½)/(df_t + ½)) ·
    *     tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl)).
    * Scale shape: the query terms BROADCAST into the token stream, so
    * only tokens of query terms ever reach the per-(doc, term) frequency
    * fold — never the full term index; document frequencies are
    * computed for query terms only; and the per-query top-k rides the
    * bounded [[graft.functions.TopKAgg]] (see the shared tail,
    * [[bm25Rank]]). N and avgdl are two
    * driver-collected scalars (bounded metadata, like IVF centroids).
    * Ranking is the 4dp-rounded score with doc-id tiebreak —
    * deterministic and engine-portable (all-double arithmetic; the
    * oracle mirrors it with explicit DOUBLE casts). Duplicate terms in
    * a query count once (bag → set, the short-query convention). Ids
    * must be integral (cast to long). Emits (qid, rn, doc_id, score). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, termsCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, "expect k1 ≥ 0 and b in [0, 1]")
    val qt = queries.select(col(qidCol).cast("long").as("qid"),
      explode(col(termsCol)).as("term")).distinct()
    val toks = fanOutForCpu(docs).select(col(idCol).cast("long").as("did"),
      size(split(col(textCol), " ")).cast("double").as("dl"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = toks.join(broadcast(qt.select("term").distinct()), "term")
      .repartition(col("term"))
      .groupBy("did", "term", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
    // two scalars of driver metadata: corpus size and mean doc length
    val st = docs.agg(count(lit(1)).cast("double"),
      avg(size(split(col(textCol), " ")).cast("double"))).head()
    // empty corpus → avg() is null; fail with intent, not an NPE downstream
    require(st.getDouble(0) > 0 && !st.isNullAt(1),
      "bm25TopK: empty document corpus (N = 0)")
    val (n, avgdl) = (st.getDouble(0), st.getDouble(1))
    bm25Rank(tf, qt, n, avgdl, k, k1, b)
  }

  /** The BM25 scoring tail shared by [[bm25TopK]] (tf freshly derived
    * from the corpus) and [[bm25AgainstCorpus]] (tf folded from the
    * persisted postings): `tf` is (did, term, dl, tf) all-numeric, one
    * row per live (query term, doc) pair, hash-partitioned by term;
    * `qt` is the distinct (qid, term) pairs. The document frequency is
    * a window count over that ONE fold — the term partitioning already
    * satisfies the window, so df costs no second postings scan and no
    * exchange. The query leg broadcasts (queries are small by
    * contract), and one qid exchange serves both the per-(query, doc)
    * sum and the per-query top-k, which rides the bounded
    * [[graft.functions.TopKAgg]]. */
  private def bm25Rank(tf: DataFrame, qt: DataFrame, n: Double,
      avgdl: Double, k: Int, k1: Double, b: Double): DataFrame = {
    val idf = log(lit(1.0) +
      (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val topk = udaf(new graft.functions.TopKAgg(k))
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("term")).cast("double"))
      .join(broadcast(qt), "term")
      .withColumn("part", idf * col("tf") * lit(k1 + 1.0) /
        (col("tf") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .repartition(col("qid"))
      .groupBy("qid", "did").agg(round(sum("part"), 4).as("score"))
      .groupBy("qid").agg(topk(col("score"), col("did")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rn"),
        col("n.id").as("doc_id"), col("n.score").as("score"))
      .orderBy("qid", "rn")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009 —
    * the standard hybrid-retrieval combiner): each input is a ranked
    * list (qid, rn, doc_id) — e.g. [[bm25TopK]] and [[cosineTopKJoin]]
    * — and a document's fused score is Σ_lists 1/(c + rank), which
    * rewards agreement without comparing the lists' incommensurable raw
    * scores. Rank-only arithmetic (1/(c+rn) over ints, 6dp-rounded sum)
    * crosses engines exactly; ties break to the smaller doc_id. One
    * union + one qid exchange serving both the per-(query, doc) sum and
    * the bounded per-query [[graft.functions.TopKAgg]] — fusion costs
    * O(Σ list sizes), independent of corpus size. Input ROW ORDER is
    * ignored: ranks come from `rn` alone, and a top-level global sort on
    * an input (every graft ranked list ends in `orderBy(qid, rn)`) is
    * stripped from its plan before the union, so the sort's range
    * shuffle and sampling job never run. Emits (qid, rn, doc_id, rrf),
    * ordered. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k >= 1 && c >= 0, "expect k ≥ 1 and c ≥ 0")
    val std = lists.map(l => org.apache.spark.sql.GraftPlans
      .withoutGlobalSort(l).select(col("qid").cast("long").as("qid"),
        col("rn").cast("int").as("rn"),
        col("doc_id").cast("long").as("doc_id")))
    val topk = udaf(new graft.functions.TopKAgg(k))
    std.reduce(_ unionByName _)
      .repartition(col("qid"))
      .groupBy("qid", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(c) + col("rn"))), 6).as("rrf"))
      .groupBy("qid").agg(topk(col("rrf"), col("doc_id")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rn"),
        col("n.id").as("doc_id"), col("n.score").as("rrf"))
      .orderBy("qid", "rn")
  }

  private val Bm25Tables = Seq("postings", "stats", "docs")

  /** A batch's posting-list rows, ready for one BM25-index segment:
    * (term, did, tf, dl, bucket). Everything is ADDITIVE (the gram
    * index's arithmetic-is-the-sequencing model): `negate` writes the
    * same rows with tf AND dl sign-flipped — the retraction segment —
    * and readers fold per (term, did), keeping net tf > 0. Bucket =
    * pmod(xxhash64(term), nBuckets), so every posting of a given term
    * lives in exactly one bucket and a probe prunes history to its
    * query terms' buckets. */
  private def bm25Postings(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, op: String, negate: Boolean): DataFrame = {
    val sign = if (negate) -1L else 1L
    val toks = fanOutForCpu(docs).select(
      requireKey(docs, idCol, op).cast("long").as("did"),
      when(col(textCol).isNull, raise_error(lit(
          s"$op: null text '$textCol' — the doc would silently vanish " +
            "from the postings")))
        .otherwise(col(textCol)).as("__t"))
      .select(col("did"), size(split(col("__t"), " ")).cast("long").as("dl"),
        explode(split(col("__t"), " ")).as("term"))
    toks.groupBy("did", "term", "dl")
      .agg((count(lit(1)) * lit(sign)).as("tf"))
      .select(col("term"), col("did"), col("tf"),
        (col("dl") * lit(sign)).as("dl"),
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
          .as("bucket"))
  }

  /** A batch's corpus-stat deltas — one row (n_docs, sum_dl), additive
    * like the postings: probe-time N and avgdl fold from exact integer
    * sums across segments, so the derived avgdl is partition-layout
    * independent (unlike a float avg, whose sum order varies).
    * Derived FROM the pinned postings segment, never from a second
    * input scan: `split` always yields ≥ 1 token (empty text → [""]),
    * so every doc owns postings rows, distinct (did, dl) is one row
    * per doc, signum(dl) carries the segment's sign (dl ≥ 1 always, so
    * never 0) — the stats row agrees with the written postings by
    * construction, even for a non-deterministic input. */
  private def bm25StatsFromPostings(postings: DataFrame): DataFrame =
    postings.select("did", "dl").distinct()
      .agg(coalesce(sum(signum(col("dl")).cast("long")), lit(0L))
          .as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("sum_dl"))

  /** Per-doc CONTENT-DIGEST sidecar rows — one (did, dg, cnt) per doc
    * in a segment, closing the one append-contract shape no
    * net-postings check could see (the r16 residual-d decision: close
    * the blind spot rather than record the ADR): a live doc id
    * re-appended ACROSS batches with same-length, fully DISJOINT terms
    * nets one plausible row per (term, did) — invisible to the
    * count-and-dl checks — but its two sidecar rows carry DIFFERENT
    * digests, so the compact's one-live-digest-per-doc fold fails it
    * loudly. The digest is an order-independent fold of the doc's
    * (term, |tf|) multiset — exactly the content BM25 scores (word
    * order never reaches the postings), so it is derived FROM THE
    * PINNED POSTINGS SEGMENT (the writeBucketedOrEmpty rule: never a
    * second scan of a possibly non-deterministic input), and a
    * retract's digest equals its append's by construction (|tf|
    * strips the segment sign; cnt carries it). A 64-bit XOR fold of
    * per-row hashes is order-independent, never overflows under ANSI
    * arithmetic (a wrapping SUM would), and is collision-safe for a
    * wiring-bug detector ((term, tf) pairs are distinct within a doc
    * by the groupBy, so xor never self-cancels). Cost: one row per
    * (doc, segment) — two orders of magnitude under the postings they
    * describe; probes never read the table. */
  private def bm25DocsSidecar(postings: DataFrame): DataFrame =
    postings
      .select(col("did"), col("dl"),
        xxhash64(col("term"), abs(col("tf")).cast("string")).as("__h"))
      .groupBy(col("did"))
      .agg(expr("bit_xor(__h)").as("dg"),
        max(signum(col("dl")).cast("int")).as("cnt"))

  /** Loud legacy gate: this release's BM25 indexes carry the per-doc
    * digest sidecar; mutating a pre-sidecar index would leave it
    * half-covered (retracts of pre-sidecar appends would read as
    * underflow). Rebuild is the upgrade path — postings cannot
    * reconstruct the sidecar's per-doc digests retroactively anyway
    * (they can, in fact, but a partial sidecar must still never
    * exist; one loud rule beats a silent migration). */
  private def requireBm25Sidecar(base: IndexStore.Snapshot,
      indexDir: String, op: String): Unit =
    if (!base.tables.contains("docs"))
      throw new IllegalArgumentException(
        s"$op: the BM25 index at $indexDir predates the per-doc digest " +
          "sidecar (no docs table) — rebuild it with bm25IndexBuild " +
          "under this release's layout")

  /** Persistent BM25 POSTINGS index — [[bm25TopK]]'s incremental
    * substrate, the retrieval family's IndexStore member (the sixth
    * index family: digest, fingerprint, SRP, IVF/cluster, gram, and
    * now postings). [[bm25TopK]] recomputes corpus-wide tf/df/avgdl on
    * every call — right for the one-shot, wrong when the corpus is
    * 100 TB and queries arrive continuously. This store persists the
    * per-(term, doc) term frequencies ONCE, bucketed by term hash so a
    * probe reads only its query terms' buckets, and keeps the two
    * corpus scalars (N, Σdl) as additive per-segment deltas.
    *
    * Everything is ADDITIVE (the gram-count model, not the tombstone
    * model): append writes positive (tf, dl) postings plus a positive
    * stats row; [[bm25IndexRetract]] writes the SAME rows negated;
    * readers fold per (term, did) and keep net tf > 0;
    * [[bm25IndexCompact]] folds the segment chain physically, so
    * erasure is O(batch) at write time and the bytes leave at compact.
    * RETRACTION CONTRACT (inherited): retract exactly the frames you
    * appended, once each.
    *
    * The spec-pinned law that makes the probe trustworthy:
    * [[bm25AgainstCorpus]](Q | index) ≡ [[bm25TopK]](C, Q) where C is
    * the net corpus after any build/append/retract/compact sequence —
    * scores equal to the 4dp boundary, ranks equal exactly. Tables:
    * `postings`, `stats`, `docs`; the bucket count rides as the
    * `n_buckets` prop. */
  def bm25IndexBuild(corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, nBuckets: Int = 1024): Unit = {
    require(nBuckets >= 1 && nBuckets <= (1 << 20),
      s"nBuckets must be in 1..${1 << 20} (got $nBuckets)")
    val spark = corpus.sparkSession
    IndexStore.commit(spark, indexDir, "bm25IndexBuild") { (_, v) =>
      val pinned = writeBucketedOrEmpty(
        bm25Postings(corpus, idCol, textCol, nBuckets, "bm25IndexBuild",
          negate = false),
        s"$indexDir/$v/postings")
      // both sidecars fold the SAME pinned postings blocks and share
      // no dependency with each other — overlapped (guide §2.6)
      inParallel(
        () => bm25StatsFromPostings(pinned)
          .coalesce(1).write.parquet(s"$indexDir/$v/stats"),
        () => bm25DocsSidecar(pinned)
          .coalesce(1).write.parquet(s"$indexDir/$v/docs"))
      (Bm25Tables.map(_ -> Seq(v)).toMap,
        Map("n_buckets" -> nBuckets.toString))
    }
    ()
  }

  /** Add a batch's postings to a [[bm25IndexBuild]] index — O(batch),
    * one bucketed postings segment + one stats delta row; nothing old
    * is rewritten. Empty batches are a no-op (no version churn).
    * LIVE DOC IDS MUST BE UNIQUE ACROSS APPENDS (the mirror of the
    * retract contract): the probe and compact fold segments with
    * sum(tf)/sum(dl) per (term, did), so re-appending a live id would
    * double its dl and silently break the probe ≡ one-shot law — e.g.
    * a replayed batch. Append a changed doc as retract + append.
    * Detection, now COMPLETE at compact time: a doc id duplicated
    * WITHIN one batch fails loudly at the append itself
    * ([[requireUniqueIds]] — the commit aborts before publish), and
    * [[bm25IndexCompact]] fails loudly on EVERY cross-batch
    * re-append-while-live — overlapping-term and changed-length shapes
    * via the net postings checks, and the formerly-invisible
    * same-length disjoint-term shape via the per-doc digest sidecar
    * ([[bm25DocsSidecar]] — the r16 residual-d carve-out, closed in
    * r17), which also catches a retract whose text never matched an
    * append. Detection is compact-time best-effort by design: between
    * compacts the contract is still the caller's (dedupApply the
    * stream by id first). `batchId` is the shared
    * foreachBatch replay watermark: a re-delivered id is a NO-OP
    * ([[deltaReplayed]] — a replayed append would re-SUM the
    * postings), a lower id fails loudly; the retract records the
    * separate `last_retract` watermark. */
  def bm25IndexAppend(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    bm25Delta(batch, idCol, textCol, indexDir, "bm25IndexAppend",
      negate = false, batchId)

  /** Erase a batch's postings from a [[bm25IndexBuild]] index — a
    * negative-count segment (the retraction contract: retract exactly
    * what you appended, once). Takes effect at commit: the documents
    * stop ranking AND stop counting toward df/N/avgdl; the next
    * [[bm25IndexCompact]] folds the arithmetic away physically. */
  def bm25IndexRetract(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    bm25Delta(batch, idCol, textCol, indexDir, "bm25IndexRetract",
      negate = true, batchId)

  private def bm25Delta(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, op: String, negate: Boolean,
      batchId: Option[Long] = None): Unit =
    deltaCommit(batch.sparkSession, indexDir, op, "BM25", "bm25IndexBuild",
        batchId, negate, batch.isEmpty) { (base, v) =>
      requireBm25Sidecar(base, indexDir, op)
      val pinned = writeBucketedOrEmpty(
        bm25Postings(requireUniqueIds(batch, idCol, op), idCol, textCol,
          base.prop("n_buckets").toInt, op, negate),
        s"$indexDir/$v/postings")
      inParallel(
        () => bm25StatsFromPostings(pinned)
          .coalesce(1).write.parquet(s"$indexDir/$v/stats"),
        () => bm25DocsSidecar(pinned)
          .coalesce(1).write.parquet(s"$indexDir/$v/docs"))
      Bm25Tables
    }

  /** Fold a BM25 index's segment chain into one: sum (tf, dl) per
    * (term, did), drop net-nonpositive postings (retracted documents
    * leave the physical index here), fold the stats deltas to one row,
    * rewrite bucketed ([[compactCommit]]). */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    compactCommit(spark, indexDir, "bm25IndexCompact", "BM25",
        "bm25IndexBuild") {
      (base, v) =>
        // bucket is a pure function of term — any per-group representative
        // (max) reproduces it without re-hashing. Two BEST-EFFORT checks
        // on the append contract (live doc ids unique across appends):
        // (1) segment rows are +1 per append, -1 per retract for a
        // (term, did), so a net segment count ≥ 2 per key is a duplicate
        // append with an overlapping term; (2) a live did whose net rows
        // carry 2+ distinct dl values re-appended with a different length
        // (a legal retract+re-append nets the old rows away first, so
        // live rows always agree on dl). In-batch duplicates fail at
        // the append itself (requireUniqueIds); the one shape neither
        // layer can see is a same-length disjoint-term re-append across
        // batches — see the bm25IndexAppend scaladoc
        val didW = Window.partitionBy("did")
        writeBucketedOrEmpty(
          IndexStore.readTable(spark, indexDir, base, "postings")
            .groupBy("term", "did")
            .agg(sum("tf").as("tf"), sum("dl").as("dl"),
              max("bucket").as("bucket"),
              sum(signum(col("tf")).cast("int")).as("__net"))
            .withColumn("tf", when(col("__net") >= 2,
                raise_error(concat(
                  lit("bm25IndexCompact: doc_id "), col("did").cast("string"),
                  lit(" appended more than once while live — live doc ids " +
                    "must be unique across appends (retract before " +
                    "re-appending)"))).cast("long"))
              .otherwise(col("tf")))
            .filter(col("tf") > 0)
            .withColumn("tf", when(
                min(col("dl")).over(didW) =!= max(col("dl")).over(didW),
                raise_error(concat(
                  lit("bm25IndexCompact: doc_id "), col("did").cast("string"),
                  lit(" owns live postings with conflicting doc lengths — " +
                    "a re-append without a retract (live doc ids must be " +
                    "unique across appends)"))).cast("long"))
              .otherwise(col("tf")))
            .select("term", "did", "tf", "dl", "bucket"),
          s"$indexDir/$v/postings")
        IndexStore.readTable(spark, indexDir, base, "stats")
          .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
            coalesce(sum("sum_dl"), lit(0L)).as("sum_dl"))
          .coalesce(1).write.parquet(s"$indexDir/$v/stats")
        // the per-doc digest sidecar fold — closes the one shape the
        // postings checks above structurally cannot see (the former
        // documented carve-out): a live id re-appended across batches
        // with same length and fully DISJOINT terms nets one plausible
        // row per (term, did), but its two sidecar rows carry different
        // content digests — the one-live-digest-per-doc window below
        // fails it loudly. The (did, dg) net also catches a retract
        // whose text never matched an append (net −1), which the
        // postings layer silently filters away with tf ≤ 0.
        requireBm25Sidecar(base, indexDir, "bm25IndexCompact")
        val liveW = Window.partitionBy("did")
        IndexStore.readTable(spark, indexDir, base, "docs")
          .groupBy("did", "dg").agg(sum("cnt").as("cnt"))
          .withColumn("cnt", when(col("cnt") >= 2, raise_error(concat(
              lit("bm25IndexCompact: doc_id "), col("did").cast("string"),
              lit(" appended more than once while live (same content) — " +
                "live doc ids must be unique across appends (retract " +
                "before re-appending)"))).cast("long"))
            .when(col("cnt") < 0, raise_error(concat(
              lit("bm25IndexCompact: doc_id "), col("did").cast("string"),
              lit(" was retracted with text that never matched an " +
                "append — retract exactly the frames you appended, " +
                "once each"))).cast("long"))
            .otherwise(col("cnt")))
          .filter(col("cnt") === 1)
          .withColumn("cnt", when(count(lit(1)).over(liveW) >= 2,
              raise_error(concat(
                lit("bm25IndexCompact: doc_id "), col("did").cast("string"),
                lit(" appended more than once while live (two distinct " +
                  "contents) — live doc ids must be unique across " +
                  "appends (retract before re-appending)"))).cast("long"))
            .otherwise(col("cnt")))
          .select(col("did"), col("dg"), col("cnt").cast("int").as("cnt"))
          .coalesce(1).write.parquet(s"$indexDir/$v/docs")
        Bm25Tables
    }

  /** BM25 retrieval against a persisted [[bm25IndexBuild]] index —
    * [[bm25TopK]] WITHOUT re-reading the corpus: the probe touches only
    * its query terms' buckets (driver metadata bounded by nBuckets, the
    * digest-probe convention), folds the surviving postings per
    * (term, did) — at most one row per live (query term, doc) pair —
    * and runs the exact same scoring tail, so cost scales with the
    * query terms' posting lists, never the corpus. N and avgdl fold
    * from the additive stats deltas (two scalars, exact integer
    * arithmetic — deterministic where a float avg is layout-dependent).
    * k1/b/k are PROBE-TIME dials — one index serves every setting.
    * Output ≡ [[bm25TopK]] over the net indexed corpus (the spec-pinned
    * law; scores to the shared 4dp boundary). Emits
    * (qid, rn, doc_id, score). */
  def bm25AgainstCorpus(queries: DataFrame, qidCol: String,
      termsCol: String, indexDir: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, "expect k1 ≥ 0 and b in [0, 1]")
    val spark = queries.sparkSession
    val snap = IndexStore.resolve(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"bm25AgainstCorpus: no index at $indexDir — build one with " +
          "bm25IndexBuild first"))
    // folded stats memoized per committed version (idxMemo — the
    // serving-path convention): version-pinned scalars, so a repeat
    // probe of an unmoved index pays zero metadata jobs
    val nBuckets = snap.prop("n_buckets").toInt
    val (nDocs, sumDl) =
      idxMemo(spark, indexDir, snap.chain, snap.version, "stats") {
        // one row per segment: summed driver-side, one job and no
        // global-aggregate exchange
        val st = IndexStore.readTable(spark, indexDir, snap, "stats")
          .select("n_docs", "sum_dl").collect()
        (st.map(_.getLong(0)).sum, st.map(_.getLong(1)).sum)
      }
    require(nDocs > 0,
      "bm25AgainstCorpus: the index holds no live documents (N = 0)")
    val avgdl = sumDl.toDouble / nDocs.toDouble
    // the query-term pairs collect ONCE (one job, their buckets
    // computed in the same pass) — they give the touched buckets, the
    // term filter, and the scoring join's driver-local (qid, term)
    // frame; all three are PREPARED per (version, query plan)
    // ([[preparedProbes]] — a repeat probe of an unmoved index pays
    // zero query-side jobs)
    val ((touched, terms), qt) = preparedProbes(spark, indexDir, snap,
      s"bm25:$qidCol:$termsCol", queries) {
      val pairs = queries.select(col(qidCol).cast("long").as("qid"),
        explode(col(termsCol)).as("term"))
      val rows = pairs.withColumn("b",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
        .collect()
      ((rows.map(_.getInt(2)).distinct.toSeq, rows.map(_.get(1)).distinct.toSeq),
        localFrame(spark, rows.map(r => Row(r.get(0), r.get(1))).distinct,
          pairs.schema))
    }
    // hash-partitioned by term ONCE: the (term, did) fold and
    // bm25Rank's df window both ride this exchange
    val tf = IndexStore.readTable(spark, indexDir, snap, "postings")
      .filter(col("bucket").isin(touched: _*) && col("term").isin(terms: _*))
      .repartition(col("term"))
      .groupBy("term", "did")
      .agg(sum("tf").cast("double").as("tf"),
        sum("dl").cast("double").as("dl"))
      .filter(col("tf") > 0)
    bm25Rank(tf, qt, nDocs.toDouble, avgdl, k, k1, b)
  }

  /** As-of join (pandas/polars `merge_asof` semantics): for every `left`
    * row, one matching `right` row within the same `keyCol`, carrying
    * `payload` columns from that row (null when no match exists).
    * `direction` picks the match:
    *  - "backward" (default): the latest right row at or before the left
    *    time; among time ties the greatest `tieBreak` wins.
    *  - "forward": the earliest right row at or after the left time; among
    *    time ties the greatest `tieBreak` wins.
    *  - "nearest": whichever of the backward/forward matches is closer in
    *    time; an exact distance tie prefers the backward row.
    * `allowExactMatches = false` makes the comparisons strict (< / >) —
    * a right row AT the left row's timestamp is invisible. `tolerance`
    * nulls out any match farther than the bound (numeric-column units, or
    * seconds for timestamps) — merge_asof's tolerance.
    *
    * Spark has no native ASOF join; the naive range self-join explodes
    * (every left row × every earlier right row, then an argmax). The
    * scalable emulation instead UNIONS both sides, sorts each key's rows by
    * (time, side, tieBreak), and carries the payload across with
    * `last(_, ignoreNulls = true)` over an unbounded-preceding row frame —
    * ONE shuffle on the key, O(1) state per row, never a pair blow-up.
    * "forward" runs the same scan over descending time; "nearest" runs
    * both scans (two in-partition sorts, still one exchange) and picks
    * per-row by time distance. Whether equal-timestamp right rows are
    * visible is controlled purely by where the left row sorts relative to
    * them (`__is_r` desc = visible, asc = strict). Pass a unique right
    * column as `tieBreak` for determinism.
    * Left/payload column names must not collide. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      timeCol: String, payload: Seq[String],
      tieBreak: Seq[String] = Nil, direction: String = "backward",
      allowExactMatches: Boolean = true,
      tolerance: Option[Double] = None): DataFrame =
    asofJoinBy(left, right, Seq(keyCol), timeCol, payload, tieBreak,
      direction, allowExactMatches, tolerance)

  /** [[asofJoin]] over a COMPOSITE key (merge_asof's `by=[...]`): identical
    * semantics, the partition key is the tuple of `keyCols`. */
  def asofJoinBy(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      timeCol: String, payload: Seq[String],
      tieBreak: Seq[String] = Nil, direction: String = "backward",
      allowExactMatches: Boolean = true,
      tolerance: Option[Double] = None): DataFrame = {
    require(keyCols.nonEmpty, "asofJoin needs at least one key column")
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown asof direction '$direction' (expected backward | forward | nearest)")
    tolerance.foreach(t => require(t >= 0, "tolerance must be non-negative"))
    val carried = left.columns
      .filterNot(c => keyCols.contains(c) || c == timeCol).toSeq
    require(carried.intersect(payload).isEmpty &&
      payload.intersect(keyCols :+ timeCol).isEmpty,
      "left and payload column names must be disjoint")
    val rSchema = right.schema
    val lSchema = left.schema
    // hidden extra payload: the matched right row's own timestamp — the
    // "nearest" distance comparison needs it
    val pl = payload :+ "__asof_rt"
    val l = left.select(
      keyCols.map(col) ++ Seq(col(timeCol), lit(0).as("__is_r")) ++
        carried.map(col) ++
        payload.map(p => lit(null).cast(rSchema(p).dataType).as(p)) ++
        Seq(lit(null).cast(rSchema(timeCol).dataType).as("__asof_rt")) ++
        tieBreak.map(t => lit(null).cast(rSchema(t).dataType).as(s"__tb_$t")): _*)
    val r = right.select(
      keyCols.map(col) ++ Seq(col(timeCol), lit(1).as("__is_r")) ++
        carried.map(c => lit(null).cast(lSchema(c).dataType).as(c)) ++
        payload.map(col) ++
        Seq(col(timeCol).as("__asof_rt")) ++
        tieBreak.map(t => col(t).as(s"__tb_$t")): _*)
    // exact matches: a right row at the left row's timestamp sorts BEFORE
    // the left row (visible to its preceding frame); strict: after
    val sideOrd = if (allowExactMatches) col("__is_r").desc else col("__is_r").asc
    val tbOrd = tieBreak.map(t => col(s"__tb_$t").asc_nulls_first)
    def scan(timeAsc: Boolean) = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((if (timeAsc) col(timeCol).asc else col(timeCol).desc) +:
        sideOrd +: tbOrd: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def carry(df: DataFrame, outPrefix: String, timeAsc: Boolean): DataFrame =
      pl.foldLeft(df) { (d, p) =>
        d.withColumn(s"$outPrefix$p",
          last(col(p), ignoreNulls = true).over(scan(timeAsc)))
      }
    val u = l.unionByName(r)
    val resolved = direction match {
      case "backward" => carry(u, "", timeAsc = true)
      case "forward" => carry(u, "", timeAsc = false)
      case "nearest" =>
        val both = carry(carry(u, "__b_", timeAsc = true), "__f_", timeAsc = false)
        // decimal(38,6) distances: exact for integral times, µs-exact for
        // timestamps (double would round µs at 2024-era epoch magnitudes)
        def dec(c: Column) = c.cast("decimal(38,6)")
        val bDist = dec(col(timeCol)) - dec(col("__b___asof_rt"))
        val fDist = dec(col("__f___asof_rt")) - dec(col(timeCol))
        val useB = col("__f___asof_rt").isNull ||
          (col("__b___asof_rt").isNotNull && bDist <= fDist)
        pl.foldLeft(both) { (d, p) =>
          d.withColumn(p, when(useB, col(s"__b_$p")).otherwise(col(s"__f_$p")))
        }
    }
    // tolerance bound (merge_asof's `tolerance`): a match farther than
    // `tolerance` in time nulls out, exactly like no match. Same decimal
    // distance as "nearest" — units are the column's own for numeric
    // times, SECONDS for timestamps.
    val bounded = tolerance match {
      case None => resolved
      case Some(tol) =>
        def dec(c: Column) = c.cast("decimal(38,6)")
        val within =
          abs(dec(col(timeCol)) - dec(col("__asof_rt"))) <= lit(tol)
        payload.foldLeft(resolved) { (d, p) =>
          d.withColumn(p, when(within, col(p)))
        }
    }
    bounded.filter(col("__is_r") === 0)
      .select(keyCols.map(col) ++ Seq(col(timeCol)) ++ carried.map(col) ++
        payload.map(col): _*)
  }

  /** IVF (inverted-file) approximate cosine top-k — the scale path that
    * [[cosineTopK]] brute force baselines. Two phases:
    *
    * INDEX BUILD (eager, driver-coordinated — an index build IS a job):
    * a coarse quantizer of `nLists` centroids is Lloyd-trained for
    * `lloydIters` passes over a deterministic hash-sample of the corpus
    * (`trainSampleMod` = m keeps ids with xxhash64(id) % m == 0; size it so
    * the sample is ~100k vectors at 100 TB). Initial centers come from
    * `seeding` (see [[trainIvfCentroids]]; default measured in RECALL.md).
    * Each pass assigns sample vectors to
    * their nearest centroid via a literal-centroid argmin PROJECTION
    * (`least` over (−cos, list) structs — no join, no shuffle beyond the
    * nLists×dim centroid-mean aggregation) and collects only nLists×dim
    * averaged components back to the driver. Updates are SPHERICAL (means
    * of L2-normalized vectors) — the metric-aligned Lloyd step for cosine.
    *
    * SEARCH (lazy): every corpus vector is assigned to its nearest list by
    * the same argmin projection — a map-side column expression, zero
    * shuffle, zero join. Queries (`queryPred`, assumed small — same
    * contract as [[cosineTopK]]) rank all centroids in-row
    * (array_sort + slice) and explode to their `nProbe` nearest lists, so
    * each (query, vid) candidate pair arises at most once. Candidates meet
    * on a broadcast(probes) equi-join over the list id — the corpus is
    * STREAMED, touching ~nProbe/nLists of it per query — and the final
    * top-k reduces through the bounded [[graft.functions.TopKAgg]]
    * map-side. Recall/cost dial: `nProbe` (↑recall; default 8 ≈ recall
    * 0.83–0.86 on the committed RECALL.md sweep — the 4 ⇒ ~0.63 point is
    * a deliberate opt-DOWN, not a default) and `nLists` (≈√n for balanced
    * lists at scale); or pass `recallTarget` and let [[nProbeFor]] pick
    * the dial from the committed curve (overrides `nProbe`). Requires
    * graft_dot (GraftExtensions). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, nLists: Int = 16, nProbe: Int = 8,
      lloydIters: Int = 3, trainSampleMod: Int = 1,
      seeding: String = IvfSeedDefault,
      recallTarget: Option[Double] = None): DataFrame = {
    val probe = recallTarget.map(nProbeFor(_, nLists)).getOrElse(nProbe)
    require(probe >= 1 && probe <= nLists, "need 1 <= nProbe <= nLists")
    val e = withNorm(emb, idCol, vecCol)
    val centers = trainIvfCentroids(e, nLists, lloydIters, trainSampleMod, seeding)
    val corpus = e.withColumn("bucket", nearestList(centers))
      .select(col("vec_id").as("vid"), col("emb").as("cemb"),
        col("nrm").as("cnrm"), col("bucket"))
    // queryPred filters the CALLER'S original frame (cosineTopK's contract),
    // not the internal withNorm projection
    val queries = withNorm(emb.filter(queryPred), idCol, vecCol)
    ivfProbeSearch(corpus, probesOf(queries, centers, probe), k)
  }

  /** The committed nProbe → recall@5 curve (RECALL.md, graft.tools
    * .RecallSweep: nLists = 16, seeding = lowid, lloydIters = 6, taken as
    * the MIN of the sf0.01/sf0.1 measurements — the conservative read).
    * Keys are probe FRACTIONS (nProbe/nLists) so the lookup generalizes to
    * other list counts: probing the same fraction of a corpus's lists
    * recovers a comparable candidate mass. Re-run the sweep and refresh
    * both this table and RECALL.md together. */
  private val IvfRecallCurve: Seq[(Double, Double)] = Seq(
    1.0 / 16 -> 0.306, 2.0 / 16 -> 0.436, 4.0 / 16 -> 0.626,
    8.0 / 16 -> 0.830, 12.0 / 16 -> 0.942, 16.0 / 16 -> 1.0)

  /** Smallest `nProbe` whose measured recall on the committed RECALL.md
    * curve meets `target` — the recall-first way to dial the IVF family
    * (`recallTarget = Some(0.9)` beats guessing probe counts). Monotone in
    * `target`; `target = 1.0` probes every list (exact search, by
    * construction — the sweep's measured 1.0 is also structural: probing
    * all lists scans the whole corpus). Targets between measured points
    * round UP to the next measured fraction — never down. */
  def nProbeFor(target: Double, nLists: Int): Int = {
    require(target > 0 && target <= 1, "recallTarget must be in (0, 1]")
    require(nLists >= 1, "nLists must be positive")
    val frac = IvfRecallCurve.collectFirst { case (f, r) if r >= target => f }
      .getOrElse(1.0)
    math.min(nLists, math.max(1, math.ceil(frac * nLists).toInt))
  }

  /** Predicted banded-LSH recall for a pair whose PER-ROW collision
    * probability is `p`: `1 − (1 − p^r)^b` — the standard S-curve every
    * band index here rides (minhash: p = the pair's Jaccard; SRP: p =
    * [[srpBitProb]] of its cosine). Evaluated AT a family's similarity
    * threshold it is the conservative recall floor: pairs above the
    * threshold collide with at least this probability (the curve is
    * monotone in p — spec-pinned), which is exactly what the committed
    * RECALL.md sweeps show — at every committed SRP sweep point the
    * measured aggregate recall sits 0–3 points ABOVE this floor (the
    * cross-check is a suite test, the nProbeFor-curve analog). */
  def bandRecall(p: Double, bands: Int, rowsPerBand: Int): Double = {
    require(p >= 0 && p <= 1, "collision probability must be in [0, 1]")
    require(bands >= 1 && rowsPerBand >= 1, "bands and rows must be >= 1")
    1.0 - math.pow(1.0 - math.pow(p, rowsPerBand), bands)
  }

  /** Per-BIT agreement probability of two vectors at angle
    * arccos(cosine) under a signed-random-projection sketch:
    * `1 − θ/π` (Goemans–Williamson) — the `p` [[bandRecall]] wants for
    * the SRP family. */
  def srpBitProb(minCosine: Double): Double = {
    require(minCosine >= -1 && minCosine <= 1, "cosine must be in [-1, 1]")
    1.0 - math.acos(minCosine) / math.Pi
  }

  /** The (bands, rowsPerBand) shape a [[fingerprintBuild]] index needs
    * to catch token-Jaccard ≥ `minJaccard` pairs with recall ≥ `target`
    * — [[nProbeFor]]'s analog for the band-index families, replacing
    * read-the-RECALL.md-tables-by-hand with the 1 − (1 − s^r)^b curve.
    * Among the divisor splits of `nHashes` it returns the MOST SELECTIVE
    * one meeting the target (largest rows-per-band = fewest false
    * candidates for the verify stage to kill); recall is evaluated at
    * the threshold, so every pair above it is caught with at least the
    * target probability. Fails loudly — naming the best achievable
    * recall and the dial to raise — when no split reaches the target.
    * Feed the result straight into
    * `fingerprintBuild(nHashes = n, bands = bandsFor._1)`; q114's
    * committed (32, 8) default is exactly
    * `minhashBandsFor(0.8, 0.98, 32)`. */
  def minhashBandsFor(minJaccard: Double, target: Double,
      nHashes: Int = 32): (Int, Int) =
    bandsForProb(minJaccard, target, nHashes, "minhashBandsFor", "nHashes")

  /** [[minhashBandsFor]]'s dense-vector twin for [[srpIndexBuild]] /
    * [[srpNearDupPairs]]: the cosine threshold maps to a per-bit
    * agreement probability ([[srpBitProb]]) and the same S-curve picks
    * the most selective (bands, bitsPerBand) split of `nBits` meeting
    * the recall target. RECALL.md's function-default note is this
    * computation: at cos ≥ 0.9 the (32, 8) default predicts ≈ 0.998. */
  def srpBandsFor(minCosine: Double, target: Double,
      nBits: Int = 32): (Int, Int) =
    bandsForProb(srpBitProb(minCosine), target, nBits, "srpBandsFor",
      "nBits")

  private def bandsForProb(p: Double, target: Double, n: Int, op: String,
      dial: String): (Int, Int) = {
    require(target > 0 && target < 1,
      s"$op: recall target must be in (0, 1) — banded LSH cannot " +
        "guarantee recall 1.0 at any finite width (use the exact pair " +
        "operators for complete recall)")
    require(n >= 1, s"$op: $dial must be positive")
    // divisor splits in ascending band count = descending selectivity;
    // the first split meeting the target is the most selective one
    (1 to n).filter(n % _ == 0).map(b => (b, n / b))
      .find { case (b, r) => bandRecall(p, b, r) >= target }
      .getOrElse(throw new IllegalArgumentException(
        f"$op: recall target $target%.4f is unreachable with $dial=$n " +
          f"at this threshold — best achievable is " +
          f"${bandRecall(p, n, 1)}%.4f (bands=$n, rows=1); raise $dial"))
  }

  /** cosine of the row's `emb` against one driver-side centroid; the
    * centroid ships as a single array Literal (typedLit), not dim scalar
    * literals. */
  private def cosTo(c: Array[Double]): Column = {
    val cn = math.sqrt(c.map(x => x * x).sum)
    call_function("graft_dot", col("emb"), typedLit(c.toSeq)) /
      (col("nrm") * lit(cn))
  }

  private def centroidStructs(cs: Array[Array[Double]]): Seq[Column] =
    cs.zipWithIndex.map { case (c, i) =>
      struct((-cosTo(c)).as("negcos"), lit(i).as("lid"))
    }.toSeq

  /** least() that tolerates a single operand (Spark's requires two). */
  private def leastOf(cs: Seq[Column]): Column =
    if (cs.lengthCompare(1) == 0) cs.head else least(cs: _*)

  /** nearest list as an argmin projection: structs compare lexicographically,
    * so least(−cos, lid) is "max cosine, ties to the smaller list id". */
  private def nearestList(cs: Array[Array[Double]]): Column =
    leastOf(centroidStructs(cs)).getField("lid")

  /** Default IVF seeding mode — the winner of the committed sweep in
    * `RECALL.md` (graft.tools.RecallSweep; re-run it before changing):
    * "lowid" beat "hash" and "farthest" at every (nProbe, lloydIters)
    * point on both test corpora. */
  val IvfSeedDefault: String = "lowid"

  /** Lloyd-train the IVF coarse quantizer (see [[ivfTopK]]) over a
    * deterministic hash sample of `e` (a withNorm frame).
    *
    * `seeding` picks the initial centers — all modes deterministic, all
    * measured head-to-head in the committed `RECALL.md` sweep
    * (graft.tools.RecallSweep):
    *  - "lowid": the `nLists` lowest-id vectors. The naive-looking
    *    baseline, but the sweep's winner at every measured point — on a
    *    structure-free corpus Lloyd's iterations do the real work and any
    *    in-distribution seeds suffice.
    *  - "hash": the first `nLists` vectors in xxhash64(vec_id) order — a
    *    reproducible stand-in for uniform random seeding (the classic
    *    Lloyd's choice). One TakeOrdered job.
    *  - "farthest": greedy farthest-point traversal over a bounded pool
    *    (max(4*nLists, 1024) unit vectors in hash order) — the
    *    deterministic analog of k-means++'s D²-weighted draw (2-approx for
    *    the k-CENTER objective). On corpora without cluster structure it
    *    picks outliers as seeds and recall suffers (measured in RECALL.md)
    *    — only consider it when the corpus is known to be well-clustered.
    *  - "kmeanspar": deterministic k-means|| (Bahmani et al., VLDB'12) —
    *    the SCALE path for large nLists, where the driver-pool modes
    *    above saturate: D²-proportional oversampling runs DISTRIBUTED
    *    (each round is one argmin projection over the sample — no join,
    *    no shuffle — collecting only O(oversampling) candidates), and the
    *    classic Bernoulli draw is replaced by a hash threshold so the
    *    same corpus always seeds identically. See [[kmeansParSeeds]]. */
  private def trainIvfCentroids(e: DataFrame, nLists: Int, lloydIters: Int,
      trainSampleMod: Int, seeding: String): Array[Array[Double]] = {
    require(trainSampleMod >= 1, "trainSampleMod must be positive")
    // r17 note: pinning this sample (repartition + lazy checkpoint so
    // the per-iteration jobs read materialized blocks) was tried and
    // REVERTED after a full-bench A/B — the coarse Lloyd runs only
    // 3-6 iterations over a plan this cheap, and the extra exchange +
    // materialization cost MORE than the repeated scans it saved on
    // every consumer (q76 +1.4, q87 +0.8, q95 +1.1, q133 train
    // +1.7 s). The PQ residual trainer (ivfPqBuild) keeps its pin:
    // there the re-executed subtree carries assign+residual compute
    // and measured faster pinned (cb_train 1.60 -> 1.12 s).
    val train = e
      .filter(pmod(xxhash64(col("vec_id")), lit(trainSampleMod)) === 0)
      .select(col("vec_id"), col("emb"), col("nrm"))
    def hashPool(cap: Int): Array[Array[Double]] = train
      .select(col("vec_id"), expr("transform(emb, x -> x / nrm)").as("u"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(cap).select("u").collect().map(_.getSeq[Double](0).toArray)
    val seeds: Array[Array[Double]] = seeding match {
      case "lowid" => train.orderBy("vec_id").limit(nLists)
        .select("emb").collect().map(_.getSeq[Double](0).toArray)
      case "hash" => hashPool(nLists)
      case "farthest" =>
        val pool = hashPool(math.max(4 * nLists, 1024))
        require(pool.nonEmpty, "IVF training: empty training sample")
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }; s
        }
        val k = math.min(nLists, pool.length)
        val chosen = scala.collection.mutable.ArrayBuffer(pool(0))
        val minDist = pool.map(u => 1.0 - dot(u, pool(0)))
        while (chosen.size < k) {
          var best = 0; var i = 1
          while (i < pool.length) {
            if (minDist(i) > minDist(best)) best = i; i += 1
          }
          chosen += pool(best)
          i = 0
          while (i < pool.length) {
            val d = 1.0 - dot(pool(i), pool(best))
            if (d < minDist(i)) minDist(i) = d; i += 1
          }
        }
        chosen.toArray
      case "kmeanspar" => kmeansParSeeds(train, nLists)
      case other => throw new IllegalArgumentException(
        s"unknown IVF seeding '$other' (expected hash | lowid | farthest | kmeanspar)")
    }
    require(seeds.nonEmpty, "IVF training: empty training sample")
    var centers: Array[Array[Double]] = seeds
    for (_ <- 1 to lloydIters) {
      val upd = train.withColumn("lid", nearestList(centers))
        .select(col("lid"), col("nrm"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("lid", "pos").agg(avg(col("v") / col("nrm")).as("cv"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      centers = centers.zipWithIndex.map { case (old, i) =>
        if (upd.contains((i, 0))) old.indices.map(p => upd((i, p))).toArray
        else old // a list that captured no sample keeps its center
      }
    }
    centers
  }

  /** Deterministic k-means|| seeding (Bahmani et al., VLDB'12): `rounds`
    * oversampling passes, each keeping sample vectors with
    * D²-proportional probability — implemented as a HASH THRESHOLD
    * (u = xxhash64(vec_id, round) scaled to [0,1); keep iff
    * u < l·d²/φ with l = 2·nLists and φ = the pass's total cost) so the
    * draw is reproducible; distances are spherical (d = 1 − cos, the
    * metric the assignment step uses). Per pass: ONE aggregation job for
    * φ and ONE filter-collect of O(l) candidates — the candidate set is
    * a plan literal like the centroid set, so the scan is an argmin
    * projection with no join and no shuffle. The collected candidates
    * (≤ 1 + rounds·~l, driver-side metadata) are weighted by how much of
    * the sample they own (one count job) and reduced to `nLists` centers
    * by a weighted driver-side Lloyd initialized from the heaviest
    * candidates. Falls back gracefully when the sample yields fewer than
    * nLists candidates (the caller's Lloyd passes run on what exists). */
  private def kmeansParSeeds(train: DataFrame, nLists: Int,
      rounds: Int = 5): Array[Array[Double]] = {
    val unit = train
      .select(col("vec_id"), expr("transform(emb, x -> x / nrm)").as("emb"))
      .withColumn("nrm", lit(1.0))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // first candidate: the lowest-id sample vector (any in-distribution
    // point works; lowid keeps it deterministic with zero extra jobs)
    val first = unit.orderBy("vec_id").limit(1)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    require(first.nonEmpty, "IVF training: empty training sample")
    var cands = first
    val l = 2.0 * nLists
    for (round <- 1 to rounds) {
      // d² to the CURRENT candidate set as a pure projection (the
      // candidates ship as literals, exactly like nearestList)
      val d2 = {
        val best = leastOf(cands.zipWithIndex.map { case (c, i) =>
          struct((lit(1.0) - cosTo(c)).as("d"), lit(i).as("i"))
        }.toIndexedSeq).getField("d")
        best * best
      }
      val scored = unit.withColumn("__d2", d2)
      val phi = scored.agg(sum(col("__d2"))).head().getDouble(0)
      if (phi > 0) {
        val u = pmod(xxhash64(col("vec_id"), lit(round)), lit(1000000L))
          .cast("double") / 1000000.0
        val fresh = scored
          .filter(u < lit(l) * col("__d2") / lit(phi))
          .select("emb").collect().map(_.getSeq[Double](0).toArray)
        cands = cands ++ fresh
      }
    }
    if (cands.length <= nLists) return cands
    // weights: how much of the sample each candidate owns (one job;
    // output is O(candidates))
    val assign = leastOf(cands.zipWithIndex.map { case (c, i) =>
      struct((-cosTo(c)).as("negcos"), lit(i).as("cid"))
    }.toIndexedSeq).getField("cid")
    val owned = unit.withColumn("__cid", assign)
      .groupBy("__cid").agg(count(lit(1)).as("w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weights = cands.indices.map(i => owned.getOrElse(i, 0L).toDouble).toArray
    // weighted driver-side Lloyd on the candidate set: init from the
    // heaviest candidates (ties to the earlier index), 10 spherical passes
    var centers = cands.indices.sortBy(i => (-weights(i), i)).take(nLists)
      .map(cands(_)).toArray
    for (_ <- 1 to 10) {
      val sums = Array.fill(centers.length, cands.head.length)(0.0)
      val wsum = Array.fill(centers.length)(0.0)
      cands.indices.foreach { i =>
        var best = 0; var bestCos = Double.MinValue
        centers.indices.foreach { j =>
          val cj = dot(cands(i), centers(j))
          if (cj > bestCos) { bestCos = cj; best = j }
        }
        val w = weights(i)
        var p = 0
        while (p < sums(best).length) {
          sums(best)(p) += w * cands(i)(p); p += 1
        }
        wsum(best) += w
      }
      centers = centers.zipWithIndex.map { case (old, j) =>
        if (wsum(j) > 0) {
          val m = sums(j).map(_ / wsum(j))
          // spherical k-means: re-normalize the mean so the next pass's
          // raw-dot argmax IS the cosine argmax (candidates are unit
          // vectors; an un-normalized mean would bias assignment toward
          // longer centers)
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n > 0) m.map(_ / n) else old
        } else old
      }
    }
    centers
  }

  /** Queries rank all centroids in-row (array_sort + slice) and explode to
    * their nProbe nearest lists — (qid, qemb, qnrm, bucket) rows. */
  private def probesOf(queries: DataFrame, centers: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val effProbe = math.min(nProbe, centers.length)
    queries
      .withColumn("bucket", explode(transform(
        slice(array_sort(array(centroidStructs(centers): _*)), 1, effProbe),
        s => s.getField("lid"))))
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"), col("bucket"))
  }

  /** Shared IVF search tail: candidates meet on a broadcast(probes)
    * equi-join over the list id; top-k reduces through the bounded
    * TopKAgg. `excludeSelf` drops id-equal pairs (right for self-search;
    * opt OUT when the query set is a different dataset that happens to
    * share the id space, or a genuine hit at the same id silently
    * disappears from the top-k). */
  private def ivfProbeSearch(corpus: DataFrame, probes: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    // a memo-served probe frame skips withNorm's registration
    GraftExtensions.register(corpus.sparkSession)
    val topk = udaf(new graft.functions.TopKAgg(k))
    corpus.join(broadcast(probes), Seq("bucket"))
      .filter(if (excludeSelf) col("qid") =!= col("vid") else lit(true))
      .withColumn("cos",
        round(expr("graft_dot(qemb, cemb)") / (col("qnrm") * col("cnrm")), 4))
      .filter(col("cos").isNotNull) // zero-norm rows have no cosine
      .groupBy("qid")
      .agg(topk(col("cos"), col("vid").cast("long")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rn"),
        col("n.id").as("vid"), col("n.score").as("cos"))
      .orderBy("qid", "rn")
  }

  /** IVF approximate top-k with INT8 coarse scoring and exact RE-RANKING —
    * the bandwidth half of the scale ANN story that [[quantizeEmbeddings]]
    * opens. Phases:
    *
    *  1. COARSE: the probed inverted lists are scanned as int8 codes (4×
    *     less I/O than float32; here the codes are derived in-row from the
    *     same scan — a persisted deployment stores them via ivfBuild-style
    *     layout), and each query's candidates rank by the cosine of the
    *     DEQUANTIZED codes. Only the top `k × rerankFactor` shortlist per
    *     query survives, reduced map-side through the bounded TopKAgg.
    *  2. RERANK: the shortlist — O(queries × k × rerankFactor) rows, noise
    *     next to the corpus scan — joins back to the full-precision
    *     vectors and the exact top-k of the shortlist is emitted.
    *
    * Same training, probing, and output contract as [[ivfTopK]]. With a
    * shortlist that covers the probed candidates the result EQUALS
    * ivfTopK's (the spec pins it); at small factors the int8 distortion
    * (rel_err ≈ 1e-2 on the test corpus, q86's audit) occasionally drops a
    * near-tie from the shortlist — the standard accuracy/bandwidth dial. */
  def ivfTopKReranked(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, nLists: Int = 16, nProbe: Int = 8,
      lloydIters: Int = 3, trainSampleMod: Int = 1,
      seeding: String = IvfSeedDefault, rerankFactor: Int = 4,
      recallTarget: Option[Double] = None): DataFrame = {
    val probe = recallTarget.map(nProbeFor(_, nLists)).getOrElse(nProbe)
    require(probe >= 1 && probe <= nLists, "need 1 <= nProbe <= nLists")
    require(rerankFactor >= 1, "rerankFactor must be positive")
    val e = withNorm(emb, idCol, vecCol)
    val centers = trainIvfCentroids(e, nLists, lloydIters, trainSampleMod, seeding)
    // the int8 view of the corpus: per-vector symmetric quantization
    // (quantizeEmbeddings' exact scheme), decoded in-row; coarse cosines
    // are true cosines of the DECODED vectors
    val corpus8 = e.withColumn("bucket", nearestList(centers))
      .withColumn("scale",
        expr("aggregate(emb, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))") / 127)
      .withColumn("cemb8", expr(
        "transform(emb, x -> coalesce(floor(x / nullif(scale, 0D) + 0.5D) * scale, 0D))"))
      .withColumn("cnrm8",
        nullif(sqrt(expr("graft_dot(cemb8, cemb8)")), lit(0.0)))
      .select(col("vec_id").as("vid"), col("bucket"), col("cemb8"), col("cnrm8"))
    val queries = withNorm(emb.filter(queryPred), idCol, vecCol)
    val probes = probesOf(queries, centers, probe)
    val shortAgg = udaf(new graft.functions.TopKAgg(k * rerankFactor))
    val shortlist = corpus8.join(broadcast(probes), Seq("bucket"))
      .filter(col("qid") =!= col("vid"))
      .withColumn("ccos",
        expr("graft_dot(qemb, cemb8)") / (col("qnrm") * col("cnrm8")))
      .filter(col("ccos").isNotNull) // zero-norm rows have no cosine
      .groupBy("qid")
      .agg(shortAgg(col("ccos"), col("vid").cast("long")).as("cand"))
      .select(col("qid"), explode(expr("transform(cand, c -> c.id)")).as("vid"))
    val full = e.select(col("vec_id").as("vid"), col("emb").as("cemb"),
      col("nrm").as("cnrm"))
    val qfull = queries.select(col("vec_id").as("qid"),
      col("emb").as("qemb"), col("nrm").as("qnrm"))
    val topk = udaf(new graft.functions.TopKAgg(k))
    full.join(broadcast(shortlist), Seq("vid"))
      .join(broadcast(qfull), Seq("qid"))
      .withColumn("cos",
        round(expr("graft_dot(qemb, cemb)") / (col("qnrm") * col("cnrm")), 4))
      .filter(col("cos").isNotNull) // zero-norm rows have no cosine
      .groupBy("qid")
      .agg(topk(col("cos"), col("vid").cast("long")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rn"),
        col("n.id").as("vid"), col("n.score").as("cos"))
      .orderBy("qid", "rn")
  }

  /** Build a PERSISTENT IVF index at `indexDir`: trains the coarse
    * quantizer exactly as [[ivfTopK]] does, then commits `centroids`
    * (lid, center) and `corpus` (vid, cemb, cnrm — parquet PARTITIONED
    * BY the list id; the inverted lists are directories) through the
    * same [[IndexStore]] versioned-snapshot protocol as the band
    * indexes: the claim precedes training, the publish is one atomic
    * manifest rename, in-flight searches keep their snapshot, and
    * [[indexVacuum]] reclaims superseded versions. Build once, search
    * many times: the training and assignment cost is amortized across
    * every [[ivfSearch]] call, and a search touches only probed
    * partitions. `centroidsFrom`: adopt another index's trained
    * centroids instead of training (rebuild the data layout under a
    * FROZEN quantizer — also how the suite proves [[ivfAppend]] ≡
    * rebuild-on-union). */
  def ivfBuild(emb: DataFrame, idCol: String, vecCol: String, indexDir: String,
      nLists: Int = 16, lloydIters: Int = 3, trainSampleMod: Int = 1,
      seeding: String = IvfSeedDefault,
      centroidsFrom: Option[String] = None): Unit = {
    val spark = emb.sparkSession
    // rejected BEFORE the claim (profileUpsert's empty-upsert stance): a
    // zero-row partitioned corpus write emits no part files and the index
    // would fail every read; an empty IVF index is meaningless anyway
    require(!emb.isEmpty,
      s"ivfBuild: empty corpus — an IVF index needs at least one vector")
    val e = withNorm(emb, idCol, vecCol)
    IndexStore.commit(spark, indexDir, "ivfBuild") { (_, v) =>
      val centers = centroidsFrom match {
        case Some(src) => readCentroids(spark, src)
        case None =>
          trainIvfCentroids(e, nLists, lloydIters, trainSampleMod, seeding)
      }
      // per-row width gate on EVERY build path (not just adoption): a
      // source trained on a different width — or a mixed-width corpus
      // row — would coarse-assign by graft_dot's silent prefix
      // truncation; the build "succeeds" with a nonsensical layout and
      // recall silently craters. Per-row loud gate, no extra job.
      val eg = requireIndexDim(e, centers(0).length, "ivfBuild")
      import spark.implicits._
      // centroid sidecar and corpus write are independent once the
      // centers are collected — overlapped (guide §2.6). One task — and
      // so one file — per inverted list: the layout a scan wants
      // (nLists ≈ √n at scale keeps this parallel; split further for
      // gigantic lists)
      inParallel(
        () => centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("lid", "center")
          .coalesce(1).write.parquet(s"$indexDir/$v/centroids"),
        () => eg.withColumn("bucket", nearestList(centers))
          .select(col("vec_id").as("vid"), col("emb").as("cemb"),
            col("nrm").as("cnrm"), col("bucket"))
          .transform(bucketExchange)
          .write.partitionBy("bucket").parquet(s"$indexDir/$v/corpus"))
      (Map("centroids" -> Seq(v), "corpus" -> Seq(v)),
        Map.empty[String, String])
    }
    ()
  }

  /** Append new vectors to a persisted [[ivfBuild]] index — the
    * build-once/add-as-you-go half of the index lifecycle: each vector
    * is assigned to its nearest EXISTING centroid (the same projection
    * argmin as the build — a zero-shuffle in-row computation against
    * driver-collected centroid literals) and appended into that list's
    * partition directory. The coarse quantizer is FROZEN: no retraining,
    * so [[ivfSearch]] over build(A)∘append(B) returns row-for-row what
    * it returns over a rebuild of A∪B at the same centroids
    * (spec-pinned via `centroidsFrom`). What appending cannot do is
    * adapt the quantizer — as the data distribution drifts from the
    * training sample, lists skew and recall-per-probe decays; rebuild
    * with [[ivfBuild]] (optionally `trainSampleMod`-sampled) when the
    * drift matters. The append is one [[IndexStore]] commit — a new
    * corpus segment published atomically, so a search that resolved its
    * snapshot first reads a complete consistent corpus, and a second
    * concurrent writer fails loudly at the claim. `batchId` (optional)
    * is the foreachBatch replay watermark every batch-driven store
    * shares: a re-delivered id is a NO-OP ([[deltaReplayed]] — the
    * vectors are already indexed), a lower id fails loudly. An empty
    * batch is a no-op: a zero-row partitionBy write emits no part
    * files, and a manifest recording that fileless segment would fail
    * every later read of the index. */
  def ivfAppend(emb: DataFrame, idCol: String, vecCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    deltaCommit(emb.sparkSession, indexDir, "ivfAppend", "IVF", "ivfBuild",
        batchId, negate = false, emb.isEmpty) { (base, v) =>
      val centers = readCentroidsSnap(emb.sparkSession, indexDir, base)
      requireIndexDim(withNorm(emb, idCol, vecCol), centers(0).length,
          "ivfAppend")
        .withColumn("bucket", nearestList(centers))
        .select(col("vec_id").as("vid"), col("emb").as("cemb"),
          col("nrm").as("cnrm"), col("bucket"))
        .transform(bucketExchange)
        .write.partitionBy("bucket").parquet(s"$indexDir/$v/corpus")
      Seq("corpus")
    }

  /** Loud width gate for persisted-index mutations/searches: graft_dot
    * truncates to the shorter operand, so a wrong-width batch would be
    * silently mis-assigned by PREFIX scores — corrupting a persistent
    * index (append) or returning wrong neighbors (search). */
  private def requireIndexDim(e: DataFrame, dim: Int, op: String): DataFrame =
    e.withColumn("emb", when(col("emb").isNull || size(col("emb")) =!= dim,
      raise_error(format_string(
        s"$op: embedding of width %s != the index's dim=$dim",
        coalesce(size(col("emb")).cast("string"), lit("NULL")))))
      .otherwise(col("emb")))

  /** SERVING-PATH METADATA MEMO (the SURVEY §3.2 sanctioned-exception
    * convention, the persisted-index twin of TextOps' doc-components
    * memo): every probe of a persisted index collects the same bounded
    * driver-side quantizer metadata — centroids (nLists rows),
    * PQ codebooks (m × ksub rows), bm25's two stats scalars — which is
    * correct but the wrong shape for a query-serving deployment: ~4
    * small Spark jobs per call, re-read although the index version has
    * not moved (r15 VERDICT residual (b), measured as most of
    * q146:search's 1.41 s). Entries are keyed by (session,
    * indexDir, version CHAIN, COMMITTED VERSION, table) — a fresh
    * commit is a fresh version, and a dir deleted and rebuilt restarts
    * its versions under a fresh chain ([[IndexStore]]), so staleness
    * is impossible by keying, not by invalidation hooks (spec-pinned:
    * a rebuild at the same dir must be observed by the next search,
    * also after the dir was deleted in between). Values are plain
    * driver-side arrays (no checkpoint blocks to release),
    * LRU-bounded. Keys hold the session strongly (the docCompCache
    * stance): a stopped session's entries age out under the LRU bound —
    * 64 small arrays, not frames — rather than via a lifecycle
    * listener. */
  private val IdxMetaCacheMax = 64
  private val idxMetaCache = new java.util.LinkedHashMap[
    (org.apache.spark.sql.SparkSession, String, String, Int, String), Any]()
  private def idxMemo[T](spark: org.apache.spark.sql.SparkSession,
      indexDir: String, chain: String, version: Int, tag: String)
      (build: => T): T = {
    val k = (spark, indexDir, chain, version, tag)
    val hit = idxMetaCache.synchronized {
      if (idxMetaCache.containsKey(k)) {
        val v = idxMetaCache.remove(k) // re-insert = LRU touch
        idxMetaCache.put(k, v)
        Some(v.asInstanceOf[T])
      } else None
    }
    hit.getOrElse {
      // the build (a bounded Spark collect) runs OUTSIDE the lock — a
      // cold read of one index must not become tail latency for a warm
      // probe of another. Two racers may both build; the values are
      // idempotent reads of an immutable committed version, so
      // last-put-wins is benign.
      val v = build
      idxMetaCache.synchronized {
        idxMetaCache.put(k, v)
        while (idxMetaCache.size > IdxMetaCacheMax) {
          val it = idxMetaCache.keySet.iterator
          it.next(); it.remove()
        }
      }
      v
    }
  }
  private[graft] def idxMetaClear(): Unit =
    idxMetaCache.synchronized(idxMetaCache.clear())

  /** A PREPARED probe side: the canonicalized query plan it was built
    * from (verified on every hit — a hash key alone could collide),
    * the collected probe metadata (touched-bucket ids, query terms),
    * and the probe frame. */
  private final case class PreparedProbes(
    plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    meta: Any,
    probes: DataFrame)

  /** A small collected frame re-served as a driver-local relation — a
    * search's probe side, collected anyway for its bucket ids, is never
    * recomputed, checkpointed or re-read from executor storage. */
  private def localFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[Row], schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** PREPARED-SEARCH memo (VERDICT r16 task 3 — the serving path's
    * second half): [[idxMemo]] already pins the quantizer metadata per
    * committed version, but every probe of an UNMOVED index still paid
    * two query-side jobs — materializing the probe frame (coarse
    * assignment + per-query LUT for PQ; term explode for BM25) and
    * collecting its touched-bucket ids. A query-serving deployment
    * replays the same query plan against the same index version over
    * and over, so this memoizes BOTH, keyed by (session, indexDir,
    * chain, COMMITTED VERSION, dial tag, canonicalized analyzed plan of
    * the caller's query frame):
    *  - staleness is impossible BY KEYING, exactly idxMemo's argument —
    *    a fresh commit is a fresh (chain, version);
    *  - two textually different but semantically equal plans share an
    *    entry (Spark's own exchange-reuse equivalence, via
    *    `sameResult`); a hash collision cannot serve wrong buckets
    *    because the stored plan is re-verified with `sameResult` on
    *    every hit (mismatch falls through to a fresh build, uncached);
    *  - a query frame with ANY non-deterministic expression bypasses
    *    the memo entirely — replaying it is not semantics-preserving;
    *  - the cached probe frame is a driver-local relation
    *    ([[localFrame]]) or a localCheckpoint, whose blocks live in
    *    executor storage for the session and are released by the
    *    ContextCleaner when the LRU evicts the reference.
    * The probe side is BOUNDED (queries × nProbe rows for ANN, query
    * terms for BM25 — both broadcast downstream), so pinning it is the
    * same budget class as the metadata memo, not a data-sized cache. */
  private def preparedProbes[T](spark: org.apache.spark.sql.SparkSession,
      indexDir: String, snap: IndexStore.Snapshot, tag: String,
      queries: DataFrame)(build: => (T, DataFrame)): (T, DataFrame) = {
    val analyzed = queries.queryExecution.analyzed
    val nonDet = analyzed.exists(p =>
      p.expressions.exists(e => !e.deterministic))
    if (nonDet) build
    else {
      val canon = analyzed.canonicalized
      val key = s"$tag:${canon.hashCode()}"
      val hit = idxMemo(spark, indexDir, snap.chain, snap.version, key) {
        val (meta, probes) = build
        PreparedProbes(canon, meta, probes)
      }
      if (hit.plan.sameResult(canon)) (hit.meta.asInstanceOf[T], hit.probes)
      else build // hash collision: serve fresh, leave the cache alone
    }
  }

  /** A persisted index's centroid table, driver-side (nLists rows of
    * metadata — the same O(index-width) collect every search performs). */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Array[Array[Double]] =
    readCentroidsSnap(spark, indexDir,
      indexSnapshot(spark, indexDir, "IVF", "ivfBuild"))

  /** [[readCentroids]] against an already-resolved snapshot, memoized
    * per committed version ([[idxMemo]]). An existing-but-EMPTY
    * centroids table fails with the same loud no-index message as a
    * missing one — centers(0) downstream would otherwise throw a raw
    * IndexOutOfBounds that reads like a data bug. */
  private def readCentroidsSnap(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, snap: IndexStore.Snapshot): Array[Array[Double]] =
    idxMemo(spark, indexDir, snap.chain, snap.version, "centroids") {
      // nLists rows, ordered driver-side: a global orderBy would add a
      // sampling job and a shuffle to every fresh search
      val cs = IndexStore.readTable(spark, indexDir, snap, "centroids")
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      require(cs.nonEmpty, s"no IVF index at $indexDir — the centroids " +
        "table is empty; build one with ivfBuild first")
      cs
    }

  /** Search a persistent [[ivfBuild]] index for `queries`' top-k cosine
    * neighbors. The centroid table (nLists rows) is collected driver-side,
    * the queries' probed list ids are collected (the query side is small —
    * it is broadcast anyway), and the corpus read carries a STATIC
    * `bucket IN (probed)` partition filter, so only the probed
    * inverted-list directories are ever scanned — the scan's
    * PartitionFilters prove it. Same output shape, semantics, and
    * recall dials as [[ivfTopK]] (`recallTarget` reads the index's own
    * list count). */
  def ivfSearch(queries: DataFrame, idCol: String, vecCol: String,
      indexDir: String, k: Int, nProbe: Int = 8,
      recallTarget: Option[Double] = None,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    // ONE snapshot resolve covers centroids and corpus: the search reads
    // a complete, consistent index however many appends/compacts publish
    // while it runs
    val snap = indexSnapshot(spark, indexDir, "IVF", "ivfBuild")
    val centers = readCentroidsSnap(spark, indexDir, snap)
    val probe = recallTarget.map(nProbeFor(_, centers.length)).getOrElse(nProbe)
    // probe frame + touched buckets prepared per (version, query plan)
    // ([[preparedProbes]] — a repeat probe of an unmoved index pays
    // zero query-side jobs): ONE collect of the probe rows gives both
    val (probed, probes) = preparedProbes(spark, indexDir, snap,
      s"ivf:$probe:$idCol:$vecCol", queries) {
      val ps = probesOf(
        requireIndexDim(withNorm(queries, idCol, vecCol),
          centers(0).length, "ivfSearch"), centers, probe)
      val rows = ps.collect()
      (rows.map(_.getAs[Int]("bucket")).distinct, localFrame(spark, rows,
        ps.schema))
    }
    // the bucket filter pushes through the segment union into every
    // per-segment scan — partition pruning holds per segment; the read
    // is retraction-aware ([[ivfRetract]] — a no-op join-free path when
    // no tombstones table exists)
    val corpus = liveIndexTable(spark, indexDir, snap, "corpus", "vid")
      .filter(col("bucket").isin(probed.toIndexedSeq: _*))
    ivfProbeSearch(corpus, probes, k, excludeSelf)
  }

  /** The IVF-PQ logical tables ([[ivfPqBuild]]). */
  private val IvfPqTables = Seq("centroids", "codebooks", "corpus")

  /** The IVF-PQ on-disk ENCODING version, stamped as the `enc` prop at
    * build and required by every reader: codes quantize the coarse
    * residual and cnrmq stores ‖c_bucket + r̂‖. An index persisted under a
    * different scheme (the pre-residual raw-subspace layout had no
    * stamp at all) would be SILENTLY mis-ranked by this release's ADC —
    * the reader fails loudly and names the rebuild instead. */
  private val IvfPqEncoding = "residual-v1"

  /** The codebooks as ONE nested array literal (m × ksub × dsub) — the
    * expression-size discipline every PQ column below rides: a
    * per-center literal expression (leastOf over ksub structs × m
    * subspaces, the first cut) makes the projection's operator tree
    * GROW with m × ksub — at the registry's 128 centers Janino spent
    * 20+ s per job compiling it (measured, ScaleProbe r15), and a real
    * ksub = 256 would be thousands of operators. One typedLit + nested
    * higher-order functions keeps the tree CONSTANT-SIZE in (m, ksub):
    * the per-row cost is the same m·ksub·dsub multiplies, interpreted
    * instead of codegen'd — the right trade for expressions whose
    * SHAPE scales with dials. */
  private def pqCbLit(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** Per-center squared norms (m × ksub), the [[pqCbLit]] sidecar. */
  private def pqCn2Lit(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq)

  /** The coarse centroids as ONE nested array literal (nLists × dim) —
    * same expression-size discipline as [[pqCbLit]]: residual encoding
    * needs the assigned centroid IN-ROW (resid = x − c_bucket), and a
    * per-center `when` chain would grow the tree with nLists. */
  private def ivfCentersLit(cs: Array[Array[Double]]): Column =
    typedLit(cs.map(_.toSeq).toSeq)

  /** The coarse RESIDUAL of `vec` against its assigned list's centroid —
    * what IVFADC quantizes (Jégou, Douze & Schmid, TPAMI 2011 §IV:
    * encode x − q_coarse(x), not x itself). Residuals concentrate around
    * the origin with far less variance than the raw vectors, so the same
    * m × ksub code budget spends its resolution where the data actually
    * is — measured on the registry bracket, recall@rf=1 more than
    * doubled vs the raw-subspace variant this replaces (RECALL.md). */
  private def pqResidual(centers: Array[Array[Double]], vec: Column,
      bucket: Column): Column =
    zip_with(vec, element_at(ivfCentersLit(centers), bucket + 1),
      (a, b) => a - b)

  /** Nearest PQ code of subvector `sv` in subspace `sub` — a
    * CONSTANT-SIZE argmin loop: fold the cid range tracking
    * (best d, best cid) with d = c·c − 2 sv·c (‖sv‖² constant per row,
    * so it never ranks); strict < keeps the SMALLEST cid on ties,
    * matching the struct-comparison convention everywhere else.
    * Objective is EUCLIDEAN distortion (not spherical): PQ
    * reconstructs the vector itself and the asymmetric dot decomposes
    * linearly over subspaces, so minimizing ‖x_m − c‖² is what makes
    * Σ_m q_m·c_m track q·x (Jégou, Douze & Schmid, TPAMI 2011 —
    * public). */
  private def pqArgmin(cb: Array[Array[Array[Double]]], sv: Column,
      sub: Column): Column = {
    val cbL = pqCbLit(cb)
    val cn2 = pqCn2Lit(cb)
    aggregate(
      sequence(lit(0), lit(cb(0).length - 1)),
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("cid")),
      (acc, cid) => {
        val c = element_at(element_at(cbL, sub + 1), cid + 1)
        val d = element_at(element_at(cn2, sub + 1), cid + 1) -
          lit(2.0) * aggregate(zip_with(sv, c, (a, b) => a * b),
            lit(0.0), (s, x) => s + x)
        when(d < acc.getField("d"),
          struct(d.as("d"), cid.as("cid"))).otherwise(acc)
      }).getField("cid")
  }

  /** All m per-subspace Euclidean-Lloyd codebooks, trained in ONE
    * frame: the training sample explodes to (vec_id, sub, s) rows once,
    * each Lloyd iteration is ONE job (assign via [[pqArgmin]], fold
    * per (sub, cid, pos) means, collect ≤ m × ksub × dsub cells — the
    * bounded-metadata convention) — not m separate per-subspace loops,
    * which cost m × iters jobs each paying scheduler + codegen setup
    * (the first cut, measured at ~24 s of the 33 s build). Seeding:
    * per subspace the first ksub DISTINCT subvector values in vec_id
    * order (the lowid convention), padded by repetition so every
    * codebook holds exactly ksub centers (the ksub prop is load-bearing;
    * a duplicated center is harmless — argmin ties to the smaller
    * cid). A code that captures no sample keeps its center. */
  private def trainPqCodebooks(train: DataFrame, m: Int, ksub: Int,
      dsub: Int, lloydIters: Int): Array[Array[Array[Double]]] = {
    val subRows = train.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)), sb =>
          slice(col("emb"), sb * lit(dsub) + 1, lit(dsub))))
        .as(Seq("sub", "s")))
    // one bounded collect seeds every subspace: the first 4·ksub
    // vectors by id, sliced driver-side
    val headVecs = train.orderBy("vec_id").limit(4 * ksub)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    require(headVecs.nonEmpty, "PQ training: empty training sample")
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m) { sub =>
      val pool = headVecs.map(v => v.slice(sub * dsub, (sub + 1) * dsub))
        .map(_.toSeq).distinct.take(ksub).map(_.toArray)
      pool ++ Array.fill(ksub - pool.length)(pool.last)
    }
    for (_ <- 1 to lloydIters) {
      val upd = subRows
        .withColumn("cid", pqArgmin(cb, col("s"), col("sub")))
        .select(col("sub"), col("cid"), posexplode(col("s")).as(Seq("pos", "v")))
        .groupBy("sub", "cid", "pos").agg(avg(col("v")).as("cv"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      cb = cb.zipWithIndex.map { case (centers, sub) =>
        centers.zipWithIndex.map { case (old, cid) =>
          if (upd.contains((sub, cid, 0)))
            old.indices.map(p => upd((sub, cid, p))).toArray
          else old
        }
      }
    }
    cb
  }

  /** The m-wide PQ code array of a RESIDUAL vector column — one
    * constant-size transform of per-subspace [[pqArgmin]] ids. Shared by
    * build and append (the encode must be IDENTICAL or appended vectors
    * would rank on a different geometry). Self-contained: the vector to
    * encode is an argument, not a fixed column name. */
  private def pqCode(codebooks: Array[Array[Array[Double]]], dsub: Int,
      resid: Column): Column =
    transform(sequence(lit(0), lit(codebooks.length - 1)), sub =>
      pqArgmin(codebooks, slice(resid, sub * lit(dsub) + 1,
        lit(dsub)), sub))

  /** The RECONSTRUCTION norm of a coded vector: x̂ = c_bucket +
    * concat_m(codebook center of code_m), so ‖x̂‖ is computed in-row from
    * the bucket-centroid literal plus the flattened chosen residual
    * centers. Takes the code COLUMN as an argument (no hidden coupling
    * to a caller-side intermediate name — the r15 ADVICE item). Encode-
    * time only (build/append), never on the search hot path. */
  private def pqReconNorm(centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], bucket: Column,
      code: Column): Column = {
    val cbL = pqCbLit(codebooks)
    val recon = flatten(transform(
      sequence(lit(0), lit(codebooks.length - 1)), sub =>
        element_at(element_at(cbL, sub + 1),
          element_at(code, sub + 1) + 1)))
    sqrt(aggregate(
      zip_with(element_at(ivfCentersLit(centers), bucket + 1), recon,
        (a, b) => (a + b) * (a + b)),
      lit(0.0), (s, x) => s + x))
  }

  /** Build a persistent IVF-PQ index — the MEMORY-COMPRESSION half of
    * the scale ANN story (Jégou et al., TPAMI 2011, public: product
    * quantization; composed with the inverted-file layout as IVF-Flat
    * coarse + PQ codes). The coarse quantizer and inverted-list layout
    * are [[ivfBuild]]'s verbatim; additionally each vector's coarse
    * RESIDUAL x − c_bucket is encoded as `m` sub-codes (subspace `sub`
    * covers dims [sub·dsub, (sub+1)·dsub), quantized against its own
    * `ksub`-center Euclidean-Lloyd codebook trained on the residuals of
    * the same deterministic hash sample — the IVFADC construction of
    * Jégou et al., where the code budget spends its resolution on the
    * low-variance residual rather than the raw vector; measured
    * recall@rf=1 more than doubled vs the raw-subspace first cut). The
    * corpus persists as ONE bucket-partitioned table carrying BOTH
    * views — (vid, cemb, cnrm) full precision and (code, cnrmq)
    * compressed — and PARQUET'S COLUMNAR LAYOUT is the compression
    * story: the ADC scan projects only (vid, code, cnrmq), so it reads
    * m small ints + one norm per vector (the cemb column chunks are
    * never fetched — the scan's ReadSchema proves it, hard-asserted in
    * ExplainCheck), while the rerank projects (vid, cemb, cnrm) for
    * the pushed shortlist ids only. One write instead of two (a
    * separate codes table bought the same bytes-read at double the
    * build/append/compact write work and a second segment chain).
    * Tables: centroids, codebooks (sub, cid, center), corpus; props
    * `m`, `ksub`, `dim` and the `enc` stamp. Same [[IndexStore]]
    * commit contract as every other family; `centroidsFrom` adopts a
    * source index's coarse centroids — and, when the source is itself
    * an IVF-PQ index with the same (m, ksub), its CODEBOOKS too (the
    * fully-frozen-quantizer rebuild — how the suite pins append ≡
    * rebuild-on-union); a plain IVF source lends only the coarse
    * centroids and the codebooks train fresh. */
  def ivfPqBuild(emb: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nLists: Int = 16, m: Int = 8, ksub: Int = 16,
      lloydIters: Int = 3, trainSampleMod: Int = 1,
      seeding: String = IvfSeedDefault,
      centroidsFrom: Option[String] = None): Unit = {
    val spark = emb.sparkSession
    require(!emb.isEmpty,
      "ivfPqBuild: empty corpus — an IVF-PQ index needs at least one vector")
    require(ksub >= 2 && ksub <= 256,
      s"ksub must be in 2..256 — a PQ code is a byte (got $ksub)")
    val e0 = withNorm(emb, idCol, vecCol)
    val dim = e0.select(size(col("emb"))).head().getInt(0)
    require(m >= 1 && m <= dim && dim % m == 0,
      s"m must divide the embedding width (dim=$dim, m=$m)")
    // per-row width gate (ivfBuild's stance): a mixed-width corpus row
    // would coarse-assign by prefix truncation and pqResidual's
    // zip_with would null-pad its residual into garbage codes SILENTLY
    // (the head-row dim check above cannot see row 2)
    val e = requireIndexDim(e0, dim, "ivfPqBuild")
    val dsub = dim / m
    IndexStore.commit(spark, indexDir, "ivfPqBuild") { (_, v) =>
      val srcSnap = centroidsFrom.map { src =>
        src -> indexSnapshot(spark, src, "IVF", "ivfBuild/ivfPqBuild")
      }
      val centers = graft.engine.StageTimer.time("pq:coarse_train") {
        srcSnap match {
          case Some((src, snap)) => readCentroidsSnap(spark, src, snap)
          case None =>
            trainIvfCentroids(e, nLists, lloydIters, trainSampleMod, seeding)
        }
      }
      // width gate on EVERY adoption path (r15 ADVICE medium): a source
      // built on a different embedding width would coarse-assign by
      // graft_dot's silent prefix truncation — the exact corruption
      // requireIndexDim exists to prevent — and the residual encode
      // would then die mid-commit on mismatched zip_with padding.
      require(centers(0).length == dim,
        s"ivfPqBuild: the source index at " +
          s"${centroidsFrom.getOrElse("<trained>")} holds " +
          s"dim-${centers(0).length} centroids but this corpus is " +
          s"dim-$dim — adopt from a same-width index or train fresh")
      val adopted = srcSnap
        .filter(_._2.tables.contains("codebooks"))
        .map { case (src, snap) =>
          val (sm, sksub, sdim) = ivfPqLayout(snap)
          require(sm == m && sksub == ksub && sdim == dim,
            s"ivfPqBuild: the source index at $src holds (m=$sm" +
              s", ksub=$sksub, dim=$sdim) codebooks but " +
              s"this build asked for (m=$m, ksub=$ksub, dim=$dim) — adopt " +
              "with matching dials or train fresh from a plain IVF source")
          readCodebooksSnap(spark, src, snap, m, ksub)
        }
      // per-subspace codebooks over the SAME deterministic hash sample
      // as the coarse quantizer (lloydIters single jobs, all subspaces
      // per job; each collect is ≤ m × ksub × dsub cells — codebooks
      // are metadata). Training operates on the coarse RESIDUALS — the
      // emb column is rebound to x − c_bucket so the trainer itself
      // stays encoding-agnostic.
      val train1 = e
        .filter(pmod(xxhash64(col("vec_id")), lit(trainSampleMod)) === 0)
        .withColumn("bucket", nearestList(centers))
        .withColumn("emb",
          pqResidual(centers, col("emb"), col("bucket")))
        .drop("bucket")
      // same small-sample pinning as trainIvfCentroids: the codebook
      // Lloyd jobs re-derive assign+residual per iteration otherwise
      val pqP = spark.sparkContext.defaultParallelism
      val train =
        if (train1.queryExecution.optimizedPlan.stats.sizeInBytes <
            BigInt(pqP.toLong) * (128L << 20))
          train1.repartition(pqP).localCheckpoint(false)
        else train1
      val codebooks = graft.engine.StageTimer.time("pq:cb_train") {
        adopted.getOrElse(
          trainPqCodebooks(train, m, ksub, dsub, lloydIters))
      }
      import spark.implicits._
      // all three table writes derive from already-collected driver
      // metadata (centers/codebooks) — the two tiny ones overlap the
      // corpus write (guide §2.6); the stage labels keep their scopes
      graft.engine.StageTimer.time("pq:corpus_write") {
        inParallel(
          () => graft.engine.StageTimer.time("pq:meta_writes") {
            centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
              .toDF("lid", "center")
              .coalesce(1).write.parquet(s"$indexDir/$v/centroids")
            codebooks.zipWithIndex.flatMap { case (cb, sub) =>
              cb.zipWithIndex.map { case (c, cid) => (sub, cid, c.toSeq) }
            }.toSeq.toDF("sub", "cid", "center")
              .coalesce(1).write.parquet(s"$indexDir/$v/codebooks")
          },
          () => pqEncodedCorpus(e, centers, codebooks, dsub)
            .write.partitionBy("bucket").parquet(s"$indexDir/$v/corpus"))
      }
      (IvfPqTables.map(_ -> Seq(v)).toMap,
        Map("m" -> m.toString, "ksub" -> ksub.toString,
          "dim" -> dim.toString, "enc" -> IvfPqEncoding))
    }
    ()
  }

  /** The dual-view corpus frame build and append share — one row per
    * vector carrying both the full-precision columns (cemb, cnrm) and
    * the compressed ones (code, cnrmq), bucket-assigned and laid out
    * one task per inverted list. The encode MUST be identical between
    * build and append or appended vectors would rank on a different
    * geometry. Codes quantize the coarse RESIDUAL ([[pqResidual]]);
    * cnrmq stores the reconstruction's norm ([[pqReconNorm]]). */
  private def pqEncodedCorpus(e: DataFrame,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], dsub: Int): DataFrame = {
    e.withColumn("bucket", nearestList(centers))
      .withColumn("code", pqCode(codebooks, dsub,
        pqResidual(centers, col("emb"), col("bucket"))))
      .withColumn("cnrmq",
        pqReconNorm(centers, codebooks, col("bucket"), col("code")))
      .select(col("vec_id").as("vid"), col("emb").as("cemb"),
        col("nrm").as("cnrm"), col("code"),
        col("cnrmq"), col("bucket"))
      .transform(bucketExchange)
  }

  /** A persisted IVF-PQ index's codebooks, driver-side (m × ksub rows
    * of metadata — the same bounded collect every search performs),
    * memoized per committed version ([[idxMemo]]). */
  private def readCodebooksSnap(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, snap: IndexStore.Snapshot, m: Int,
      ksub: Int): Array[Array[Array[Double]]] =
    idxMemo(spark, indexDir, snap.chain, snap.version, "codebooks") {
      val rows = IndexStore.readTable(spark, indexDir, snap, "codebooks")
        .collect().map(r => ((r.getInt(0), r.getInt(1)),
          r.getSeq[Double](2).toArray)).toMap
      require(rows.size == m * ksub,
        s"ivfPq: codebooks table holds ${rows.size} centers, " +
          s"expected m×ksub = ${m * ksub} — the index is corrupt")
      Array.tabulate(m, ksub)((sub, cid) => rows((sub, cid)))
    }

  /** An IVF-PQ index's (m, ksub, dim) props — read by every search,
    * shortlist, and append. Gates the on-disk encoding stamp
    * ([[IvfPqEncoding]]): an index persisted under a different scheme
    * fails loudly here instead of mis-ranking silently. */
  private def ivfPqLayout(snap: IndexStore.Snapshot): (Int, Int, Int) = {
    val enc = snap.prop("enc")
    require(enc == IvfPqEncoding,
      s"the IVF-PQ index at ${snap.dir} was built under encoding '$enc' " +
        s"but this release reads '$IvfPqEncoding' — its codes would " +
        "be silently mis-ranked; rebuild it with ivfPqBuild")
    (snap.prop("m").toInt, snap.prop("ksub").toInt, snap.prop("dim").toInt)
  }

  /** Append vectors to a persisted [[ivfPqBuild]] index under the
    * FROZEN coarse quantizer AND codebooks — [[ivfAppend]]'s PQ twin:
    * assignment and encoding are the build's exact projections against
    * the stored centers, so search(build∘append) ≡
    * search(rebuild-on-union at the same centers/codebooks)
    * row-for-row (spec-pinned via `centroidsFrom` + codebook reuse).
    * What appending cannot do is adapt either quantizer — rebuild when
    * distribution drift degrades recall-per-probe. One atomic commit,
    * one dual-view corpus segment; `batchId` is the shared foreachBatch
    * replay watermark ([[ivfAppend]]'s contract). */
  def ivfPqAppend(emb: DataFrame, idCol: String, vecCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit = {
    val spark = emb.sparkSession
    deltaCommit(spark, indexDir, "ivfPqAppend", "IVF-PQ", "ivfPqBuild",
        batchId, negate = false, emb.isEmpty) { (base, v) =>
      val (m, ksub, dim) = ivfPqLayout(base)
      val centers = readCentroidsSnap(spark, indexDir, base)
      val codebooks = readCodebooksSnap(spark, indexDir, base, m, ksub)
      pqEncodedCorpus(
          requireIndexDim(withNorm(emb, idCol, vecCol), dim, "ivfPqAppend"),
          centers, codebooks, dim / m)
        .write.partitionBy("bucket").parquet(s"$indexDir/$v/corpus")
      Seq("corpus")
    }
  }

  /** RETRACT vectors (by id) from an [[ivfPqBuild]] index —
    * [[ivfRetract]]'s PQ twin: same tombstone mechanism; both the ADC
    * scan and the rerank read subtract pending tombstones until
    * [[ivfPqCompact]] folds them. */
  def ivfPqRetract(removed: DataFrame, idCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit =
    indexRetractIds(removed, idCol, indexDir, "ivfPqRetract",
      "IVF-PQ", "ivfPqBuild", "vid", batchId)

  /** [[ivfCompact]]'s PQ twin: folds the dual-view corpus segment
    * chain back to one file per inverted list and drops tombstones;
    * the frozen centroid and codebook tables carry forward unchanged
    * ([[compactCommit]]). */
  def ivfPqCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    compactCommit(spark, indexDir, "ivfPqCompact", "IVF-PQ", "ivfPqBuild") {
      (base, v) =>
        liveIndexTable(spark, indexDir, base, "corpus", "vid")
          .transform(bucketExchange)
          .write.partitionBy("bucket").parquet(s"$indexDir/$v/corpus")
        Seq("corpus")
    }

  /** Search a persistent [[ivfPqBuild]] index — asymmetric distance
    * computation (ADC) + exact rerank:
    *
    *  1. PROBE: queries rank the coarse centroids exactly as
    *     [[ivfSearch]]; the probed list ids become a static partition
    *     filter on the dual-view corpus, and the ADC pass projects
    *     only the COMPRESSED columns — at scale the coarse scan reads
    *     m sub-codes + one norm per vector, never the vectors
    *     (parquet column pruning; the ReadSchema proves it).
    *  2. ADC: residual decomposition q·x̂ = q·c_bucket + Σ_m q_m·r̂_m.
    *     Each PROBE row carries its q·c_bucket scalar and the query's
    *     m×ksub lookup table (q_m · residual-codebook centers — bounded
    *     per-query metadata riding the broadcast probe rows); a
    *     candidate's approximate dot is one column add + m in-row
    *     lookups: qc + Σ_m lut[m·ksub + code_m]. Approximate cosine
    *     divides by ‖q‖ and the STORED reconstruction norm. The top
    *     k×rerankFactor per query survive, reduced map-side through
    *     the bounded TopKAgg.
    *  3. RERANK: the shortlist ids (≤ queries × k × rerankFactor —
    *     driver metadata, the digest-probe convention) become a static
    *     pushed filter on the full-precision corpus read (probed
    *     partitions only), and the exact top-k of the shortlist is
    *     emitted with true 4dp cosines — [[ivfTopKReranked]]'s
    *     contract against the persisted substrate.
    *
    * Same output shape as [[ivfSearch]]; `recallTarget` reads the
    * index's own list count. Retraction-aware on both reads.
    * `maxPushedIds` caps the pushed shortlist literal (expression-size
    * discipline): past it the broadcast join alone bounds the rerank —
    * identical results (spec-pinned), minus row-group skipping. */
  def ivfPqSearch(queries: DataFrame, idCol: String, vecCol: String,
      indexDir: String, k: Int, nProbe: Int = 8, rerankFactor: Int = 4,
      recallTarget: Option[Double] = None,
      excludeSelf: Boolean = true,
      maxPushedIds: Int = 8192): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor must be positive")
    require(maxPushedIds >= 0, "maxPushedIds must be non-negative")
    val spark = queries.sparkSession
    val snap = indexSnapshot(spark, indexDir, "IVF-PQ", "ivfPqBuild")
    val dim = ivfPqLayout(snap)._3
    val q = requireIndexDim(withNorm(queries, idCol, vecCol), dim,
      "ivfPqSearch")
    val (probed, rawShortlist) = ivfPqShortlist(queries, idCol, vecCol,
      indexDir, k, nProbe, rerankFactor, recallTarget, excludeSelf,
      Some(snap))
    // the checkpoint pins the ADC pass's result so the two consumers
    // below (the bounded id collect and the rerank's broadcast side)
    // share ONE codes scan
    val shortlist = rawShortlist.localCheckpoint(false)
    // the shortlist ids are bounded driver metadata (≤ nq × k ×
    // rerankFactor): a STATIC pushed filter on the full-precision read,
    // so the rerank scans row groups of shortlisted vids only. The
    // literal is CAPPED (r15 ADVICE): a large query batch × rerank dial
    // yields tens of thousands of In-list terms — unbounded plan growth,
    // the expression-size hazard pqCbLit documents. Past the cap the
    // pushed-filter fast path is dropped and the (always-present)
    // broadcast shortlist join alone bounds the rerank — correct either
    // way, just without row-group skipping for oversized batches. The
    // collect itself is limit-bounded to cap+1: an oversized batch's
    // full id set is never shipped to the driver just to be discarded
    // (this action also materializes the checkpointed shortlist).
    val shortIds = shortlist.select("vid").distinct()
      .limit(maxPushedIds + 1).collect().map(_.getLong(0))
    if (shortIds.length > maxPushedIds) {
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"ivfPqSearch: shortlist of ${shortIds.length} ids exceeds the " +
          s"$maxPushedIds pushed-literal cap — rerank relies on the " +
          "broadcast join only")
    }
    val qfull = q.select(col("vec_id").as("qid"), col("emb").as("qemb"),
      col("nrm").as("qnrm"))
    val topk = udaf(new graft.functions.TopKAgg(k))
    val rerankBase = liveIndexTable(spark, indexDir, snap, "corpus", "vid")
      .filter(col("bucket").isin(probed.toIndexedSeq: _*))
    val rerankScan =
      if (shortIds.length <= maxPushedIds)
        rerankBase.filter(col("vid").isin(shortIds.toIndexedSeq: _*))
      else rerankBase
    rerankScan
      .join(broadcast(shortlist), Seq("vid"))
      .join(broadcast(qfull), Seq("qid"))
      .withColumn("cos",
        round(expr("graft_dot(qemb, cemb)") / (col("qnrm") * col("cnrm")), 4))
      .filter(col("cos").isNotNull)
      .groupBy("qid")
      .agg(topk(col("cos"), col("vid").cast("long")).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rn"),
        col("n.id").as("vid"), col("n.score").as("cos"))
      .orderBy("qid", "rn")
  }

  /** The ADC shortlist plan of [[ivfPqSearch]] — the coarse pass as an
    * UN-materialized DataFrame ((qid, vid) candidates) plus the probed
    * list ids, factored out so ExplainCheck can hard-assert the CODES
    * scan's partition pruning on the exact plan the search runs (the
    * search checkpoints this frame, which truncates its lineage from
    * the returned plan). */
  private[graft] def ivfPqShortlist(queries: DataFrame, idCol: String,
      vecCol: String, indexDir: String, k: Int, nProbe: Int = 8,
      rerankFactor: Int = 4, recallTarget: Option[Double] = None,
      excludeSelf: Boolean = true,
      snapshot: Option[IndexStore.Snapshot] = None)
      : (Array[Int], DataFrame) = {
    val spark = queries.sparkSession
    val snap = snapshot.getOrElse(
      indexSnapshot(spark, indexDir, "IVF-PQ", "ivfPqBuild"))
    val (m, ksub, dim) = ivfPqLayout(snap)
    val dsub = dim / m
    val q = requireIndexDim(withNorm(queries, idCol, vecCol), dim,
      "ivfPqSearch")
    val centers = readCentroidsSnap(spark, indexDir, snap)
    val codebooks = readCodebooksSnap(spark, indexDir, snap, m, ksub)
    val probe = recallTarget.map(nProbeFor(_, centers.length)).getOrElse(nProbe)
    // the query-side LUT: one flat m×ksub array column per probe row
    // (the probe side is broadcast anyway; ksub ≤ 256 keeps it
    // bounded). Constant-size HOF form — see [[pqCbLit]]
    val cbL = pqCbLit(codebooks)
    val lut = transform(sequence(lit(0), lit(m * ksub - 1)), i => {
      val sub = floor(i / lit(ksub)).cast("int")
      val cid = pmod(i, lit(ksub)).cast("int")
      aggregate(zip_with(
          slice(col("qemb"), sub * lit(dsub) + 1, lit(dsub)),
          element_at(element_at(cbL, sub + 1), cid + 1),
          (a, b) => a * b),
        lit(0.0), (s, x) => s + x)
    })
    // residual decomposition: x̂ = c_bucket + r̂, so q·x̂ = q·c_bucket +
    // Σ_m q_m·r̂_m. The first term is one dot per PROBE row (bounded —
    // the probe side is broadcast anyway), computed here so the
    // per-candidate hot path stays m lookups + one column add.
    val qc = aggregate(
      zip_with(col("qemb"),
        element_at(ivfCentersLit(centers), col("bucket") + 1),
        (a, b) => a * b),
      lit(0.0), (s, x) => s + x)
    // the checkpoint PINS the per-probe LUT: without it, projection
    // collapse inlines the (interpreted, HOF-heavy) LUT definition
    // into the per-CANDIDATE projection downstream of the join —
    // re-deriving a 128-double table per candidate row instead of once
    // per probe row (measured: search grew with corpus size at 7× the
    // flat scan). The probed-bucket collect below materializes it, so
    // this costs no extra job. Both the checkpointed probe frame and
    // the collected bucket ids are PREPARED per (version, query plan)
    // ([[preparedProbes]]): a repeat probe of an unmoved index pays
    // zero query-side jobs.
    val (probed, probes) = preparedProbes(spark, indexDir, snap,
      s"pq:$probe:$idCol:$vecCol", queries) {
      val ps = probesOf(q, centers, probe).withColumn("lut", lut)
        .withColumn("qc", qc)
        .localCheckpoint(false)
      (ps.select("bucket").distinct().collect().map(_.getInt(0)), ps)
    }
    // the COMPRESSED view of the dual-view corpus: projecting only
    // (vid, code, cnrmq) before the join prunes the cemb/cnrm column
    // chunks out of the scan — the ADC pass reads m small ints + one
    // norm per probed vector (ReadSchema hard-asserted in ExplainCheck)
    val codes = liveIndexTable(spark, indexDir, snap, "corpus", "vid")
      .filter(col("bucket").isin(probed.toIndexedSeq: _*))
      .select("vid", "code", "cnrmq", "bucket")
    // ADC: approximate dot = m in-row lookups. Built as a SUM of m
    // element_at terms, NOT a higher-order fold: this projection runs
    // once per (candidate × probe) row — the search's hot path — and a
    // HOF lambda would kick it out of whole-stage codegen (measured
    // 3–7× over the flat search's codegen'd dot). The tree grows with
    // m only (≤ dim/1), never ksub — the codegen-size discipline holds.
    // Zero-norm reconstructions (all-zero codes) have no cosine, like
    // zero-norm vectors everywhere else in the family.
    val adot = col("qc") + (0 until m).map { sub =>
      element_at(col("lut"),
        (lit(sub * ksub) + element_at(col("code"), sub + 1) + 1)
          .cast("int"))
    }.reduce(_ + _)
    val shortAgg = udaf(new graft.functions.TopKAgg(k * rerankFactor))
    val shortlist = codes.join(broadcast(probes), Seq("bucket"))
      .filter(if (excludeSelf) col("qid") =!= col("vid") else lit(true))
      .withColumn("ccos",
        adot / (col("qnrm") * nullif(col("cnrmq"), lit(0.0))))
      .filter(col("ccos").isNotNull)
      .groupBy("qid")
      .agg(shortAgg(col("ccos"), col("vid").cast("long")).as("cand"))
      .select(col("qid"), explode(expr("transform(cand, c -> c.id)")).as("vid"))
    (probed, shortlist)
  }

  /** Connected components over an undirected pair list — the dedup
    * capstone: near-dup PAIRS (from any family above) become CLUSTERS, and
    * a pipeline keeps one document per cluster. Min-label propagation to
    * the fixpoint: each pass every node adopts the smallest label among
    * itself and its neighbors (a hash join + groupBy-min, all shuffles on
    * the node key), with eager `localCheckpoint()` so the iterative
    * lineage stays flat. Near-dup clusters are near-cliques, so this
    * converges in 2–3 passes (O(component diameter) in general;
    * `maxIter`-capped with a loud failure, never a silent wrong answer).
    * Emits (node, label) where label = min node id in the component. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame =
    ccWithPassCount(edges, srcCol, dstCol, maxIter)._1

  /** [[connectedComponents]] plus the number of propagation passes it ran
    * (the last pass is the one that observes zero changes, so a component
    * of diameter d costs d + 1 passes — pinned by a path-graph property in
    * the test suite). */
  private[api] def ccWithPassCount(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int): (DataFrame, Int) = {
    // materialize the symmetric edge list ONCE — every propagation pass
    // joins it, and without this each pass would re-run the (possibly
    // expensive) upstream pair pipeline that produced `edges`
    val sym = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .localCheckpoint(true)
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbrMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy("a").agg(min("label").as("nbl"))
      // the changed-row count rides the eager checkpoint's materialization
      // job as an observed metric — one job per pass, not a checkpoint job
      // plus a count job
      val obs = org.apache.spark.sql.Observation()
      val updated = labels.join(nbrMin, labels("node") === nbrMin("a"), "left")
        .select(labels("node"), labels("label"),
          least(labels("label"), coalesce(col("nbl"), labels("label"))).as("nl"))
        .observe(obs, count(when(col("nl") < col("label"), 1)).as("changed"))
        .localCheckpoint(true)
      changed = obs.get("changed").asInstanceOf[Long]
      labels = updated.select(col("node"), col("nl").as("label"))
      it += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge within $maxIter iterations")
    (labels, it)
  }

  /** Apply a near-dup clustering back to its source dataset — the one-call
    * reduction every curation pipeline otherwise writes by hand:
    * `components` is [[connectedComponents]] output (node, label); each
    * `df` row joins its cluster (rows in no cluster are their own
    * singleton), and exactly ONE row per cluster survives — the greatest
    * `scoreCol` (quality, length, recency …), ties to the smallest id;
    * with `scoreCol = None` the smallest id wins. Returns the surviving
    * rows with all of df's columns plus `cluster` (the component label)
    * and `cluster_size`. Shuffle profile: one equi-join on the id (the
    * components side is a pair-list reduction — usually tiny next to df,
    * broadcastable by AQE) and one groupBy(cluster) whose min_by
    * partial-aggregates map-side; no window over the full dataset. */
  def dedupApply(df: DataFrame, idCol: String, components: DataFrame,
      scoreCol: Option[String] = None): DataFrame = {
    // the components side renames BEFORE the join: `df` may well carry
    // its own `label`/`node` columns (the embeddings table does), and a
    // bare coalesce(col("label"), …) would be ambiguous against them
    val comp = components.select(col("node").as("__cc_node"),
      col("label").as("__cc_label"))
    val labeled = df.join(comp, df(idCol) === col("__cc_node"), "left")
      .withColumn("__cluster", coalesce(col("__cc_label"), df(idCol)))
      .drop("__cc_node", "__cc_label")
    val ord = scoreCol match {
      case Some(sc) => keepBestOrd(sc, idCol)
      case None => struct(col(idCol).as("i"))
    }
    labeled.groupBy(col("__cluster"))
      .agg(min_by(struct(df.columns.map(col): _*), ord).as("__best"),
        count(lit(1)).as("cluster_size"))
      .select(col("__best.*"), col("__cluster").as("cluster"), col("cluster_size"))
  }

  /** The cluster-index logical tables ([[clusterIndexBuild]]). */
  private val ClusterTables = Seq("parents", "edges")

  /** The cluster index's partition key: hash of the node id, so a
    * batch's chain lookups prune to the buckets its nodes hash into. */
  private def clusterBucket(node: Column, nBuckets: Int): Column =
    pmod(xxhash64(node), lit(nBuckets.toLong)).cast("int")

  /** Build a PERSISTENT INCREMENTAL CLUSTERING index at `indexDir` — a
    * disk-backed union-find over the [[IndexStore]] protocol, removing
    * the documented limitation that incremental near-dup dedup is
    * pairwise-only ("closure across batch boundaries would require
    * re-clustering all of history on every batch" — it does not; it
    * requires a persisted forest): near-dup PAIRS arrive batch by batch
    * (from [[dedupNearAgainstCorpus]]'s candidate machinery, a diff
    * feed, any pair source), [[clusterIndexAppend]] unions them into
    * the forest touching only the batch's own chains, and
    * [[clusterResolve]] reads back the TRANSITIVE clustering — equal to
    * one-shot [[connectedComponents]] over the union of every batch's
    * edges, for ANY batch composition (spec- and property-pinned).
    *
    * Representation: `parents` rows (node, parent) bucketed by
    * hash(node); a node with no row — or a self-row — is a ROOT.
    * UNION-BY-MIN keeps every parent STRICTLY SMALLER than its child,
    * so (a) chains cannot cycle, (b) a component's root is always its
    * minimum member id — exactly connectedComponents' label, which is
    * what makes the one-shot equivalence exact. Appends only ADD rows
    * (merge-on-read: the LATEST row per node wins, sequenced by segment
    * version exactly like the retraction tombstones); chains grow by at
    * most one hop per append and [[clusterIndexCompact]] re-flattens
    * (full path compression) on the usual hygiene schedule. Logical
    * tables: `parents` + `edges`, with the `n_buckets` prop — the RAW
    * edge batches persist beside the forest (bucketed by hash(a)),
    * which is what makes [[clusterRetract]]'s erasure honest: a forest alone
    * cannot un-merge clusters a taken-down bridge document connected,
    * but the surviving edges can re-derive them
    * ([[clusterIndexCompact]]); edges cost the same order of storage
    * as the parents they produce and are never read on the
    * append/resolve hot paths of a tombstone-free index. */
  def clusterIndexBuild(edges: DataFrame, srcCol: String, dstCol: String,
      indexDir: String, nBuckets: Int = 1024): Unit = {
    require(nBuckets >= 1 && nBuckets <= (1 << 20),
      s"nBuckets must be in 1..${1 << 20} (got $nBuckets)")
    val spark = edges.sparkSession
    val e = clusterEdgeGuard(edges, srcCol, dstCol, "clusterIndexBuild")
      .localCheckpoint(false)
    val labels = connectedComponents(e, "a", "b")
    IndexStore.commit(spark, indexDir, "clusterIndexBuild") { (_, v) =>
      // two independent table writes of one commit — overlapped
      // (guide §2.6; labels is eagerly checkpointed by
      // connectedComponents, e lazily by the guard, so the two
      // writes read materialized blocks, never racing a shared scan)
      inParallel(
        () => { writeBucketedOrEmpty(
          labels.select(col("node"), col("label").as("parent"))
            .withColumn("bucket", clusterBucket(col("node"), nBuckets)),
          s"$indexDir/$v/parents"); () },
        () => { writeBucketedOrEmpty(
          e.withColumn("bucket", clusterBucket(col("a"), nBuckets)),
          s"$indexDir/$v/edges"); () })
      (ClusterTables.map(_ -> Seq(v)).toMap,
        Map("n_buckets" -> nBuckets.toString))
    }
    ()
  }

  /** Null-loud, self-loop-free, distinct (a, b) edge normalization
    * shared by the cluster-index mutations. */
  private def clusterEdgeGuard(edges: DataFrame, srcCol: String,
      dstCol: String, op: String): DataFrame = {
    def g(c: String) = when(col(c).isNull,
        raise_error(lit(s"$op: null edge endpoint '$c' — a null cannot " +
          "join any cluster and hides a wiring bug")))
      .otherwise(col(c))
    edges.select(g(srcCol).as("a"), g(dstCol).as("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** UNION a batch of near-dup pairs into a [[clusterIndexBuild]]
    * forest — the incremental step. Touches only the batch's own
    * chains: the batch endpoints' ROOTS resolve through per-hop
    * bucket-pruned lookups ([[resolveRootsPruned]] — cost is the
    * batch's chain walk, never a history scan), the batch's edges
    * project onto those roots, [[connectedComponents]] closes the
    * transitive merges WITHIN that root graph (batch-sized, not
    * history-sized), and one segment of (losing root → min root) rows
    * appends — union-by-min, so history's invariant (parent < child,
    * root = min member) is preserved and resolve stays equal to
    * one-shot clustering over all edges ever seen.
    *
    * The root resolution and merge computation run INSIDE the
    * [[deltaCommit]] closure, derived from the closure's base
    * snapshot: a loser to a concurrent append recomputes
    * its unions against the winner's published forest — writing roots
    * resolved against a stale snapshot could re-parent a node BOTH
    * writers touched and silently split the winner's merge (the lost
    * update the retry contract exists to prevent). A batch whose edges
    * all fall inside existing clusters appends an empty (but
    * schema-bearing) segment — the commit still publishes, recording
    * the `batchId` replay watermark; a replayed batch (id at the
    * watermark) skips entirely and empty EDGE batches are a no-op
    * ([[ivfAppend]]'s stance). */
  def clusterIndexAppend(edges: DataFrame, srcCol: String, dstCol: String,
      indexDir: String, batchId: Option[Long] = None): Unit = {
    val spark = edges.sparkSession
    val e = clusterEdgeGuard(edges, srcCol, dstCol, "clusterIndexAppend")
      .localCheckpoint(false)
    deltaCommit(spark, indexDir, "clusterIndexAppend", "cluster",
        "clusterIndexBuild", batchId, negate = false, e.isEmpty) {
      (base, v) =>
        // nBuckets comes from the CLOSURE's base snapshot, like the
        // roots: a retry against a concurrently REBUILT index (new
        // layout) must bucket its rows under the winner's layout, or
        // later chain lookups would prune to the wrong partitions
        val nBuckets = base.prop("n_buckets").toInt
        val nodes = e.select(col("a").as("node"))
          .union(e.select(col("b").as("node"))).distinct()
        val roots = resolveRootsPruned(spark, indexDir, base, nodes,
          nBuckets).localCheckpoint(false)
        val ra = roots.select(col("node").as("a"), col("root").as("ra"))
        val rb = roots.select(col("node").as("b"), col("root").as("rb"))
        val rootEdges = e.join(ra, "a").join(rb, "b")
          .select(col("ra"), col("rb"))
          .filter(col("ra") =!= col("rb")).distinct()
        val rows = connectedComponents(rootEdges, "ra", "rb")
          .filter(col("label") =!= col("node"))
          .select(col("node"), col("label").as("parent"))
        // the RAW batch persists beside the forest — the erasure
        // substrate ([[clusterRetract]]): compact re-derives affected
        // components from surviving edges, which only works if the
        // edges outlive the unions they caused. Parents and edges are
        // independent — overlapped (guide §2.6)
        inParallel(
          () => { writeBucketedOrEmpty(
            rows.withColumn("bucket",
              clusterBucket(col("node"), nBuckets)),
            s"$indexDir/$v/parents"); () },
          () => { writeBucketedOrEmpty(
            e.withColumn("bucket", clusterBucket(col("a"), nBuckets)),
            s"$indexDir/$v/edges"); () })
        ClusterTables
    }
  }

  /** Retract nodes from a [[clusterIndexBuild]] index — the erasure
    * story's last store ([[digestIndexRetract]] forgets exact content,
    * [[fingerprintRetract]]/[[srpRetract]]/[[ivfRetract]] forget
    * sketches and vectors, [[graft.api.PortraitOps.profileDelete]]
    * forgets users; this forgets a document's CLUSTER MEMBERSHIP and,
    * at compact, the merges it alone caused). Writes SEQUENCED node
    * tombstones (O(batch), bucketed under the index's layout): a
    * tombstone kills the node's membership AND every edge incident to
    * it written at any version ≤ its own, and a node re-mentioned by
    * an edge batch appended AFTER the retraction is live again — so
    * retract → re-ingest behaves like a fresh index, the digest
    * family's rule.
    *
    * Two-phase erasure semantics, both spec-pinned:
    *  - IMMEDIATELY, [[clusterResolve]] excludes retracted nodes from
    *    its output entirely — a retracted id appears neither as a
    *    member nor as a cluster label (clusters whose min member was
    *    retracted relabel to their min LIVE member). Transitive
    *    bridging a retracted node caused is NOT yet undone: two
    *    clusters it alone connected stay merged until compact — the
    *    decremental-connectivity window, documented here rather than
    *    hidden.
    *  - AT [[clusterIndexCompact]], affected components re-derive from
    *    the SURVIVING persisted edges, so a taken-down bridge
    *    document's clusters actually split; the tombstones and every
    *    trace of the node fold away ([[indexVacuum]] then reclaims the
    *    bytes).
    * Retracting unknown nodes is a harmless no-op at read time; null
    * ids fail loudly; empty batches commit nothing. `batchId` records
    * the `last_retract` replay watermark, separate from the append
    * watermark exactly as in [[digestIndexRetract]]. */
  def clusterRetract(removed: DataFrame, idCol: String, indexDir: String,
      batchId: Option[Long] = None): Unit = {
    val ids = removed.select(
        when(col(idCol).isNull, raise_error(lit(
          "clusterRetract: null node id — a null names nothing to forget " +
            "and hides a wiring bug")))
          .otherwise(col(idCol)).as("node"))
      .distinct().localCheckpoint(false)
    deltaCommit(removed.sparkSession, indexDir, "clusterRetract", "cluster",
        "clusterIndexBuild", batchId, negate = true, ids.isEmpty) {
      (base, v) =>
        // layout from the CLOSURE's base snapshot (the retry rule every
        // cluster-index mutation follows)
        val nBuckets = base.prop("n_buckets").toInt
        writeBucketedOrEmpty(
          ids.withColumn("bucket", clusterBucket(col("node"), nBuckets)),
          s"$indexDir/$v/tombstones")
        Seq("tombstones")
    }
  }

  /** The ACTIVELY-retracted node set of a cluster-index snapshot:
    * latest tombstone per node, minus nodes REVIVED by an edge batch
    * appended after their tombstone (sequenced exactly like the digest
    * family's equality deletes, per-node here). Only called when a
    * tombstones table exists — the tombstone-free plan never reads
    * edges. The edges scan is one pass with the (tiny) tombstone side
    * broadcast by AQE. */
  private def activeClusterTombstones(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      snap: IndexStore.Snapshot): DataFrame = {
    val tombs = IndexStore
      .readTableTagged(spark, indexDir, snap, "tombstones", "__tseg")
      .groupBy(col("node")).agg(max("__tseg").as("__tseg"))
    val et = IndexStore.readTableTagged(spark, indexDir, snap, "edges",
      "__eseg")
    val mentions = et.select(col("a").as("node"), col("__eseg"))
      .unionByName(et.select(col("b").as("node"), col("__eseg")))
    val revived = mentions.join(tombs, Seq("node"))
      .filter(col("__eseg") > col("__tseg"))
      .select("node").distinct()
    tombs.join(revived, Seq("node"), "left_anti").select("node")
  }

  /** (node, root) for `nodes` against a snapshot's parent forest —
    * frontier chase with PER-HOP touched-bucket pruning: each hop
    * collects the frontier's bucket ids (O(batch) driver metadata),
    * reads only those partitions of every segment, narrows to the
    * frontier's own nodes (semi-join BEFORE the latest-per-node
    * aggregate, so the max-segment fold — the merge-on-read rule —
    * processes only matched rows), and advances. Per-hop cost is
    * therefore the TOUCHED BUCKET SLICE of the forest's storage plus a
    * frontier-sized aggregate — size `nBuckets` so a typical batch
    * touches a small fraction of buckets, exactly
    * [[digestIndexBuild]]'s sizing guidance; it is never a
    * whole-forest aggregate. Parents are strictly smaller than
    * children (union-by-min), so chains cannot cycle; depth is bounded
    * by appends-since-compact (flat right after build/compact), with a
    * loud `maxHops` failure naming the fix. A node with no row — or a
    * self-row — is its own root. */
  private def resolveRootsPruned(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      snap: IndexStore.Snapshot, nodes: DataFrame, nBuckets: Int,
      maxHops: Int = 64): DataFrame = {
    var frontier = nodes.select(col("node").as("n"))
      .withColumn("cur", col("n")).localCheckpoint(true)
    var done: Option[DataFrame] = None
    var hops = 0
    var drained = false
    while (!drained && hops < maxHops) {
      // ONE action answers both per-hop questions (r17 job-count trim):
      // the touched-bucket collect IS the emptiness probe — an empty
      // bucket list means an empty frontier, so the old separate
      // frontier.isEmpty job (and the per-hop eager checkpoint of the
      // filtered frontier, a plain filter over the already-checkpointed
      // step) is gone. Two jobs per hop instead of four.
      val touched = frontier
        .select(clusterBucket(col("cur"), nBuckets).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      if (touched.isEmpty) drained = true
      else {
        val latest = IndexStore
          .readTableTagged(spark, indexDir, snap, "parents", "__seg")
          .filter(col("bucket").isin(touched: _*))
          .join(frontier.select(col("cur").as("node")).distinct(),
            Seq("node"), "left_semi")
          .groupBy(col("node"))
          .agg(max_by(col("parent"), col("__seg")).as("parent"))
        val step = frontier
          .join(latest, frontier("cur") === latest("node"), "left")
          .select(frontier("n"), frontier("cur"), col("parent"))
          .localCheckpoint(true)
        val finished = step
          .filter(col("parent").isNull || col("parent") === col("cur"))
          .select(col("n").as("node"), col("cur").as("root"))
        done = Some(done.map(_.unionByName(finished)).getOrElse(finished))
        frontier = step
          .filter(col("parent").isNotNull && col("parent") =!= col("cur"))
          .select(col("n"), col("parent").as("cur"))
        hops += 1
      }
    }
    require(drained,
      s"resolveRoots: a parent chain exceeds $maxHops hops — run " +
        "clusterIndexCompact to re-flatten the forest")
    done.getOrElse(nodes.select(col("node"), col("node").as("root"))
      .limit(0))
  }

  /** The FULL resolved clustering of a [[clusterIndexBuild]] index:
    * (node, cluster) with cluster = the component's minimum member id —
    * row-for-row [[connectedComponents]] over the union of every edge
    * batch ever built/appended (the index's defining equivalence,
    * property-pinned for arbitrary batch compositions). Pointer
    * doubling to the fixpoint: each pass re-points every node at its
    * grandparent, so a chain of depth d resolves in ⌈log₂ d⌉ passes
    * (flat forests resolve in one); eager checkpoints keep the
    * iterative lineage flat, and the changed-row count rides each
    * pass's materialization as an observed metric. Nodes with no
    * parent row (roots appended without members… or never clustered)
    * are their own cluster and are simply absent — join with your
    * entity table and coalesce to the id, [[dedupApply]]'s contract.
    *
    * Retraction-aware ([[clusterRetract]]): a retracted (and not
    * re-ingested) id appears NOWHERE in the output — not as a member
    * (its rows are excluded) and not as a label (a cluster whose min
    * member was retracted relabels to its min LIVE member). The
    * no-tombstone plan is untouched — zero overhead off the retract
    * path. Until [[clusterIndexCompact]] re-derives, merges a
    * retracted bridge node caused remain (documented window in
    * [[clusterRetract]]). */
  def clusterResolve(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val snap = indexSnapshot(spark, indexDir, "cluster", "clusterIndexBuild")
    val resolved = clusterResolveSnap(spark, indexDir, snap)
    if (!snap.tables.contains("tombstones")) resolved
    else {
      val dead = activeClusterTombstones(spark, indexDir, snap)
        .localCheckpoint(false)
      val live = resolved.join(dead, Seq("node"), "left_anti")
      // relabel only the clusters whose LABEL died: the label is the
      // component's min member, so the min LIVE member replaces it.
      // Only the root can be row-less in the forest, and here it is
      // dead — so min over live member ROWS is exact
      val deadLabels = dead.select(col("node").as("cluster"))
      val hit = live.join(deadLabels, Seq("cluster"), "left_semi")
      val kept = live.join(deadLabels, Seq("cluster"), "left_anti")
      val relabeled = hit
        .join(hit.groupBy("cluster").agg(min("node").as("__nl")),
          Seq("cluster"))
        .select(col("node"), col("__nl").as("cluster"))
      // explicit projection: the using-column joins above move their
      // key first, and the contract is (node, cluster)
      kept.select(col("node"), col("cluster")).unionByName(relabeled)
    }
  }

  private def clusterResolveSnap(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, snap: IndexStore.Snapshot,
      maxIter: Int = 50): DataFrame = {
    var p = IndexStore
      .readTableTagged(spark, indexDir, snap, "parents", "__seg")
      .groupBy(col("node"))
      .agg(max_by(col("parent"), col("__seg")).as("parent"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val obs = org.apache.spark.sql.Observation()
      val q = p.select(col("node").as("qn"), col("parent").as("qp"))
      val next = p.join(q, p("parent") === col("qn"), "left")
        .select(p("node"), p("parent").as("op"),
          coalesce(col("qp"), p("parent")).as("np"))
        .observe(obs, count(when(col("np") =!= col("op"), 1)).as("changed"))
        .select(col("node"), col("np").as("parent"))
        .localCheckpoint(true)
      changed = obs.get("changed").asInstanceOf[Long]
      p = next
      it += 1
    }
    require(changed == 0,
      s"clusterResolve did not reach the fixpoint within $maxIter " +
        "pointer-doubling passes — the forest is deeper than 2^50, " +
        "which only a corrupted index can produce")
    p.select(col("node"), col("parent").as("cluster"))
  }

  /** Path-compress a [[clusterIndexBuild]] forest — and APPLY its
    * retractions: one commit rewrites `parents` to the fully-resolved
    * flat form (every node points directly at its root, so later
    * appends' chain walks are one hop again), folds the appended edge
    * segments to one distinct set, and — when [[clusterRetract]]
    * tombstones exist — RE-DERIVES every affected component from its
    * SURVIVING edges, the honest half of cluster erasure: membership
    * exclusion is [[clusterResolve]]'s immediate job, but a bridge
    * document's takedown must also UN-MERGE the clusters it alone
    * connected, and a forest cannot answer that (decremental
    * connectivity) — the persisted edges can.
    *
    * Sequencing: an edge dies iff either endpoint holds a tombstone at
    * or above the edge's write version (the digest family's
    * equality-delete rule, per endpoint), so post-retraction re-ingest
    * edges stand. Cost: the recompute runs [[connectedComponents]]
    * over the surviving edges of AFFECTED components only — components
    * are closed under edges, so the affected/kept split is exact and
    * untouched components pay one anti-join, not a re-clustering.
    * With no tombstones the old flatten-only plan (plus the edge fold)
    * runs. Tombstones drop from the manifest; post-compact reads pay
    * zero retraction overhead and [[indexVacuum]] reclaims the
    * retracted bytes. Same [[compactCommit]] contract as every compact:
    * atomic publish, snapshot-isolated readers, props (including both
    * replay watermarks) carried forward. */
  def clusterIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    compactCommit(spark, indexDir, "clusterIndexCompact", "cluster",
        "clusterIndexBuild") {
      (base, v) =>
        val nBuckets = base.prop("n_buckets").toInt
        val resolved = clusterResolveSnap(spark, indexDir, base)
          .localCheckpoint(false)
        val edgesT = IndexStore.readTableTagged(spark, indexDir, base,
          "edges", "__eseg")
        val (parentsNew, edgesNew) =
          if (!base.tables.contains("tombstones"))
            (resolved.select(col("node"), col("cluster").as("parent")),
              edgesT.select("a", "b").distinct())
          else {
            val tombs = IndexStore.readTableTagged(spark, indexDir, base,
                "tombstones", "__tseg")
              .groupBy(col("node")).agg(max("__tseg").as("__tseg"))
              .localCheckpoint(false)
            val ta = tombs.select(col("node").as("__ta"),
              col("__tseg").as("__tsa"))
            val tb = tombs.select(col("node").as("__tb"),
              col("__tseg").as("__tsb"))
            val surviving = edgesT
              .join(ta, edgesT("a") === col("__ta") &&
                col("__tsa") >= edgesT("__eseg"), "left_anti")
              .join(tb, edgesT("b") === col("__tb") &&
                col("__tsb") >= edgesT("__eseg"), "left_anti")
              .select("a", "b").distinct().localCheckpoint(false)
            // affected = every component holding ANY tombstoned node —
            // including revived ones, whose PRE-retraction edges die
            // and may have been bridges. A tombstoned current root can
            // be row-less in the forest, so its id is caught via the
            // label side of the union
            val tn = tombs.select("node")
            val affClusters = resolved
              .join(tn, Seq("node"), "left_semi").select("cluster")
              .unionByName(resolved
                .join(tn.select(col("node").as("cluster")),
                  Seq("cluster"), "left_semi")
                .select("cluster"))
              .distinct().localCheckpoint(false)
            // an edge's endpoints share a component (unions made it
            // so); coalesce covers a row-less root endpoint
            val ac = resolved.select(col("node").as("a"),
              col("cluster").as("__ca"))
            val ec = surviving.join(ac, Seq("a"), "left")
              .withColumn("__ca", coalesce(col("__ca"), col("a")))
            val affEdges = ec.join(
                affClusters.select(col("cluster").as("__ca")),
                Seq("__ca"), "left_semi")
              .select("a", "b")
            val recomputed = connectedComponents(affEdges, "a", "b")
              .select(col("node"), col("label").as("parent"))
            val keptParents = resolved
              .join(affClusters, Seq("cluster"), "left_anti")
              .select(col("node"), col("cluster").as("parent"))
            (keptParents.unionByName(recomputed), surviving)
          }
        inParallel(
          () => { writeBucketedOrEmpty(
            parentsNew
              .withColumn("bucket", clusterBucket(col("node"), nBuckets)),
            s"$indexDir/$v/parents"); () },
          () => { writeBucketedOrEmpty(
            edgesNew.withColumn("bucket",
              clusterBucket(col("a"), nBuckets)),
            s"$indexDir/$v/edges"); () })
        ClusterTables
    }

  /** Symmetric per-vector int8 scalar quantization of an embedding column —
    * the storage/bandwidth half of a scale ANN story: 8-bit codes are 4×
    * smaller than float32 (8× smaller than the double compute form), and a
    * quantized corpus can be scanned for coarse scoring with exact rerank
    * on the shortlist. Per vector: `scale = max|x| / 127`, code
    * `q = floor(x/scale + 0.5)` ∈ [-127, 127] (floor(+0.5) — not round() —
    * so both engines and any reimplementation agree on halfway cases
    * without banker's-rounding divergence). Emits per row: the id, `scale`,
    * the int codes `qvec`, and `rel_err` = ‖x − q·scale‖₂ / ‖x‖₂ (the
    * quantization distortion; zero-norm vectors emit rel_err 0). Everything
    * is an in-row projection — zero shuffle at any corpus size. Requires
    * graft_dot (GraftExtensions). */
  def quantizeEmbeddings(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    withNorm(emb, idCol, vecCol)
      .withColumn("scale",
        expr("aggregate(emb, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))") / 127)
      .withColumn("qvec", expr(
        "transform(emb, x -> CAST(floor(x / nullif(scale, 0D) + 0.5D) AS INT))"))
      .withColumn("dq", expr(
        "transform(qvec, v -> coalesce(v * scale, 0D))"))
      .withColumn("rel_err",
        when(col("nrm") > 0,
          sqrt(expr(
            """aggregate(zip_with(emb, dq, (a, b) -> (a - b) * (a - b)),
              |CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)) / col("nrm"))
          .otherwise(lit(0.0)))
      .select(col("vec_id"), col("scale"), col("qvec"), col("rel_err"))

  /** Per-stratum EXACT distribution quantiles by rank selection — the
    * length/score distribution report a corpus audit publishes (p50/p90/
    * p99 tokens per language, score deciles per source). `pcts` are
    * integer percents; quantile = the value at ascending rank
    * ceil(pct·n/100) within the stratum — the DISCONTINUOUS (type-1)
    * estimator, an actual data value, chosen because rank arithmetic is
    * INTEGER-exact: interpolating estimators mix decimal-vs-binary
    * literal arithmetic across engines (ceil(0.9·n) in DuckDB decimal ≠
    * the same expression in IEEE doubles for some n), so only type-1 can
    * be hash-gate reproducible everywhere. Emits (stratum, pct, value,
    * n_rows), one row per (stratum, pct) even when ranks collide.
    *
    * Scale shape: exact order statistics NEED the per-stratum sort — ONE
    * shuffle on the stratum key, rank + count in the same window pass,
    * and only rank-matched rows leave the stage; skew follows stratum
    * sizes. When the strata are too big to sort, [[quantileSketch]] is
    * the mergeable map-side path (bounded error, no sort) — same report,
    * the 100 TB knob. Null value/stratum fail loudly: a silent
    * nulls-first sort would shift every rank below it. */
  def quantileByRank(df: DataFrame, valCol: String, strataCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "pcts must be integer percents in 1..100")
    val loud = when(col(valCol).isNull,
        raise_error(lit(s"quantileByRank: null value '$valCol'")))
      .when(col(strataCol).isNull,
        raise_error(lit(s"quantileByRank: null stratum '$strataCol'")))
      .otherwise(col(valCol))
    val w = Window.partitionBy(strataCol).orderBy(col(valCol).asc)
    val cw = Window.partitionBy(strataCol)
    val pctArr = array(pcts.distinct.sorted.map(lit): _*)
    df.select(col(strataCol), loud.as(valCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_rows", count(lit(1)).over(cw))
      .withColumn("pct", explode(filter(pctArr, p =>
        col("__rn") === floor((p.cast("long") * col("n_rows") + 99L) / 100L))))
      .select(col(strataCol), col("pct"), col(valCol).as("value"),
        col("n_rows"))
  }

  /** The mergeable twin of [[quantileByRank]]: `percentile_approx`
    * (Greenwald–Khanna, codegen'd, map-side partial — no per-stratum
    * sort, no rank shuffle; error bounded by `accuracy`). Same output
    * shape. The registry row runs the exact variant (oracle-exact); the
    * suite pins this sketch to it within rank tolerance. */
  def quantileSketch(df: DataFrame, valCol: String, strataCol: String,
      pcts: Seq[Int], accuracy: Int = 10000): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "pcts must be integer percents in 1..100")
    val ps = pcts.distinct.sorted
    val pArr = array(ps.map(p => lit(p / 100.0)): _*)
    df.groupBy(strataCol)
      .agg(percentile_approx(col(valCol), pArr, lit(accuracy)).as("__q"),
        count(lit(1)).as("n_rows"))
      .select(col(strataCol),
        explode(arrays_zip(array(ps.map(lit): _*).as("p"),
          col("__q").as("v"))).as("__z"),
        col("n_rows"))
      .select(col(strataCol), col("__z.p").as("pct"),
        col("__z.v").as("value"), col("n_rows"))
  }

  /** In-plan null-key gate shared by the heavy-hitter family: a null in
    * `keyCol` fails the job loudly instead of silently forming (or
    * silently dropping) a null frequency class whose ordering differs
    * across engines. */
  private[api] def requireKey(df: DataFrame, keyCol: String, op: String): Column =
    when(col(keyCol).isNull,
      raise_error(lit(s"$op: null value in '$keyCol'")))
      .otherwise(col(keyCol))

  /** Loud in-batch duplicate-id gate for store delta paths (bm25/clf
    * append and retract): both stores FOLD a batch's rows per key before
    * the segment write, so a doc id duplicated WITHIN one batch used to
    * fold invisible — the compact-time duplicate checks, which reason
    * over per-SEGMENT net counts, structurally cannot see it (the r15
    * declared blind spot, now closed). One window count over the batch
    * (O(batch) — delta batches are small by contract); the error rides
    * the segment write lazily, so a violating commit aborts before
    * publish and the store is unchanged. */
  private[api] def requireUniqueIds(batch: DataFrame, idCol: String,
      op: String): DataFrame =
    batch
      .withColumn("__idn",
        count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn(idCol, when(col("__idn") > 1,
          raise_error(concat(
            lit(s"$op: doc id "), col(idCol).cast("string"),
            lit(" appears more than once in this batch — fold or dedup " +
              "the batch first (in-batch duplicates would fold into one " +
              "corrupt row the compact checks cannot see)"))))
        .otherwise(col(idCol)))
      .drop("__idn")

  /** EXACT corpus-wide heavy hitters: the `k` most frequent values of
    * `keyCol`, ranked by the total order (count desc, value asc). One
    * map-side-combined groupBy(value) and a TakeOrderedAndProject — the
    * global sort never materializes; the rank window runs on the k-row
    * result. This is the right tool whenever the distinct-value count
    * fits a shuffle (it usually does — counts are 16 bytes a value); when
    * the vocabulary itself is the problem, [[heavyHittersTwoPass]] keeps
    * every executor's state bounded at `capacity` counters and re-counts
    * only the survivors. Emits (key, cnt, rn), rn = 1-based rank. Null
    * keys fail loudly. */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    df.select(requireKey(df, keyCol, "heavyHitters").as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key").asc).limit(k)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)).cast("int"))
      .orderBy("rn")
  }

  /** One-pass bounded-memory frequency summary over `keyCol` (cast to
    * string) — [[graft.functions.MisraGriesAgg]] as a DataFrame: emits
    * (key, est) for the ≤ `capacity` surviving counters. Estimates
    * UNDERCOUNT only, by at most N/(capacity + 1), and every value more
    * frequent than that line is guaranteed present; the kept key set
    * BELOW the line is partition-layout dependent (inherent to the
    * sketch family), so anything that must be deterministic re-counts
    * candidates exactly — [[heavyHittersTwoPass]]. Null keys fail
    * loudly. */
  def heavyHittersSketch(df: DataFrame, keyCol: String,
      capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(requireKey(df, keyCol, "heavyHittersSketch")
        .cast("string").as("key"))
      .as[String]
      .select(new graft.functions.MisraGriesAgg(capacity).toColumn)
      .toDF("m")
      .select(explode(col("m")).as(Seq("key", "est")))
  }

  /** TWO-PASS exact heavy hitters at unbounded vocabulary — the 100 TB
    * shape: pass 1 runs the mergeable Misra–Gries summary (every
    * executor bounded at `capacity` counters; O(partitions × capacity)
    * map entries shuffle, never |vocabulary|), pass 2 re-counts ONLY the
    * ≤ `capacity` surviving candidates exactly (the candidate list is
    * O(capacity) driver metadata shipped as an in-plan IN filter — the
    * scan discards everything else before the groupBy) and ranks the
    * top `k`. Output ≡ [[heavyHitters]] (exact, deterministic) whenever
    * the true k-th count exceeds N/(capacity + 1) — MG's coverage
    * guarantee keeps every such key in the candidate set (suite-pinned
    * under that bound, for arbitrary corpora and layouts); size
    * `capacity` ≥ N/true_kth_count accordingly. Ranking — including tie
    * order at equal counts — is by the column's NATIVE order: the
    * stringified candidate set only FILTERS (the sketch's domain is
    * string, but the re-count and rank run on the original-typed
    * column), then the key stringifies on output. Emits (key, cnt, rn)
    * with `key` stringified. */
  def heavyHittersTwoPass(df: DataFrame, keyCol: String, k: Int,
      capacity: Int): DataFrame = {
    require(capacity >= k, "capacity must be at least k")
    // O(capacity) driver-side metadata, like IVF centroids / probed buckets
    val cands = heavyHittersSketch(df, keyCol, capacity)
      .select("key").collect().map(_.getString(0))
    heavyHitters(
      df.filter(col(keyCol).cast("string").isin(cands.toIndexedSeq: _*)),
      keyCol, k)
      .withColumn("key", col("key").cast("string"))
  }

  /** Single-pass column profiling — the data-quality audit a pipeline runs
    * before training: one output row per profiled column carrying the row
    * count, null count, distinct count, and min/max (cast to string so
    * heterogeneous columns stack; beware engine-specific float/timestamp
    * formatting if you hash-compare those). ONE aggregation job over one
    * scan regardless of how many columns are profiled (multi-distinct
    * plans through Spark's Expand). `approxDistinct = true` swaps the
    * exact distinct for HLL `approx_count_distinct` — the 100 TB knob when
    * per-column exact distincts (a shuffle each through Expand) cost more
    * than the audit is worth. Emits (col_name, n_rows, n_nulls,
    * n_distinct, min_value, max_value). */
  def profileColumns(df: DataFrame, cols: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val dist: String => Column =
      if (approxDistinct) c => approx_count_distinct(col(c))
      else c => countDistinct(col(c))
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"__nulls_$c"),
      dist(c).as(s"__dist_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"), col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"), col(s"__max_$c").as("max_value"))): _*))
        .as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** Cap over-represented groups: keep at most `n` rows per `groupCol`,
    * the best by `scoreCol` (ties to the smallest `idCol`) — the standard
    * per-domain/per-source cap a corpus curation applies so one crawl
    * host cannot dominate the training mix. ONE shuffle on the group key
    * and a per-group sort (row_number window with a deterministic
    * tiebreaker) — never a global sort; the window partitions by the cap
    * key, so skew follows the group-size distribution (cap by domain, not
    * by a three-value column). Emits the input plus `grp_rank` (1..n,
    * best first). */
  def capPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, n: Int): DataFrame = {
    require(n >= 1, "n must be positive")
    val w = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("grp_rank", row_number().over(w))
      .filter(col("grp_rank") <= n)
  }

  /** Greedy token-budget fill per stratum — the selection a pretraining
    * mix is built from ("the best ~N tokens per language/source"): each
    * stratum's rows order by quality (`scoreCol` desc, ties to `idCol`
    * asc) and survive while the RUNNING SUM of `tokensCol` stays within
    * `budget`. One shuffle on the stratum key; the running sum is a
    * row-frame window — O(1) state per row, no global sort. Greedy
    * semantics at the boundary: the first row that would overflow the
    * budget is dropped AND ends its stratum's fill (rows after it are
    * better-ranked than nothing but the budget is spent — matching the
    * cumulative-sum definition keeps the operator a pure window filter,
    * oracle-expressible and deterministic). A single row larger than the
    * whole budget is dropped outright. Emits the input plus `cum_tokens`
    * (the running total including the row itself). */
  def budgetByTokens(df: DataFrame, strataCol: String, scoreCol: String,
      tokensCol: String, idCol: String, budget: Long): DataFrame = {
    require(budget >= 1, "budget must be positive")
    val w = Window.partitionBy(strataCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokensCol)).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Assemble DOCUMENTS from parts — the step BEFORE everything else in
    * an event/message-sourced pipeline (chat logs → conversations,
    * activity streams → per-user narratives, page fragments → pages):
    * one output row per `groupCols` key, its `partCol` values joined by
    * `sep` in (`orderCol`, part) order, plus `n_parts`. The assembled
    * `text` then flows into the document surface (quality gates, dedup,
    * packing). Ordering ties break on the part itself, so the output is
    * a pure function of the grouped SET — deterministic across re-runs,
    * partition layouts, and engines (`string_agg(part, sep ORDER BY
    * ord, part)` agrees byte-for-byte).
    *
    * Scale shape: ONE shuffle on the group key; each document is
    * assembled by one reducer, which is inherent — a document must fit
    * in memory to exist (the same contract as collect_list). A skewed
    * giant group IS a data-modeling smell; cap parts upstream
    * ([[capPerGroup]]) if sources can run away. NULL order or part
    * values fail loudly: array_join would silently DROP a null part
    * (text vanishing from a training doc with no trace), and engines
    * disagree on where NULL sorts. */
  def assembleDocs(df: DataFrame, groupCols: Seq[String], orderCol: String,
      partCol: String, sep: String = " "): DataFrame = {
    require(groupCols.nonEmpty, "assembleDocs needs at least one group column")
    // family-standard reserved-column guard: a group column named like
    // an emitted column would yield a duplicate-named output that fails
    // ambiguously downstream instead of loudly here
    val clash = groupCols.intersect(Seq("text", "n_parts"))
    require(clash.isEmpty,
      s"assembleDocs emits columns text, n_parts; group column(s) " +
        s"${clash.mkString(", ")} collide — rename before assembling")
    val ord = when(col(orderCol).isNull,
        raise_error(lit(s"assembleDocs: null order '$orderCol'")))
      .otherwise(col(orderCol))
    val part = when(col(partCol).isNull,
        raise_error(lit(s"assembleDocs: null part '$partCol'")))
      .otherwise(col(partCol).cast("string"))
    df.groupBy(groupCols.map(col): _*)
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(ord.as("o"), part.as("p")))),
          x => x.getField("p")), sep).as("text"),
        count(lit(1)).as("n_parts"))
  }

  /** Group rows into fixed-size batches of SIMILAR token length — the
    * inference-batching stage (embedding generation, quality-classifier
    * scoring, reranking): a batch is padded to its longest member, so
    * batching docs of similar length minimizes wasted pad tokens.
    * Shards by md5 of the id (hash-uniform), sorts each shard by
    * (token count DESC, id), and cuts every `batchSize` consecutive
    * rows into one batch. Emits the input plus `shard`, `batch_id`
    * (shard-local, 0-based, longest batches first) and `batch_pos`
    * (0-based within the batch). Within a shard, every batch's lengths
    * are a contiguous run of the sorted order (batch b's shortest ≥
    * batch b+1's longest — ScalaCheck-pinned), so pad waste per batch
    * is bounded by the local length spread. Deterministic and
    * reproducible from the ids alone — PROVIDED ids are unique (the
    * packing family's standing contract, [[packSequences]] included):
    * two rows sharing an id and token count tie completely in the
    * (tokens DESC, id) sort, so their batch_pos/batch_id split would
    * depend on partition order. Dedup ids upstream ([[exactDedup]])
    * when the source can repeat them.
    *
    * Scale shape: ONE shuffle on the shard key + a per-shard sort —
    * [[packSequences]]' exact budget; size `nShards` to the cluster. A
    * GLOBAL length sort would batch marginally tighter but needs a
    * global row numbering (single-reducer window) — each shard sees a
    * hash-uniform sample of the length distribution, so per-shard
    * batching loses almost nothing and keeps the plan scalable. Same
    * loud-failure contract as the packing family (null id, null/< 1
    * tokens, reserved columns). */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokensCol: String,
      batchSize: Int, nShards: Int = 1024): DataFrame = {
    require(batchSize >= 1, s"batchSize must be positive (got $batchSize)")
    require(nShards >= 1 && nShards <= 65536,
      s"nShards must be in 1..65536 (got $nShards)")
    val reserved = Seq("shard", "batch_id", "batch_pos", "__t", "__rn")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"lengthBucketBatches emits/uses columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before batching")
    val w = Window.partitionBy("shard")
      .orderBy(col("__t").desc, col(idCol).asc)
    df.withColumn("shard", packShard(idCol, nShards))
      .withColumn("__t", tokGuard("lengthBucketBatches", idCol, tokensCol))
      .withColumn("__rn", (row_number().over(w) - 1).cast("long"))
      .withColumn("batch_id", expr(s"__rn DIV $batchSize"))
      .withColumn("batch_pos", pmod(col("__rn"), lit(batchSize.toLong)))
      .drop("__t", "__rn")
  }

  /** Pack documents into fixed-length training sequences — the stage
    * after selection/mixing ([[capPerGroup]] / [[budgetByTokens]] /
    * [[temperatureResample]]) in a pretraining data build: concatenate
    * the corpus into `nShards` deterministic token streams and cut each
    * stream at `seqLen`-token boundaries (GPT-style concat-and-split —
    * a document may straddle a cut; `seq_spans` says across how many
    * sequences). Emits the input plus, per doc:
    *  - `shard`     — md5-bucket of the id mod `nShards` (the stream it
    *    packs into);
    *  - `pack_off`  — the doc's absolute token offset in its shard's
    *    stream;
    *  - `seq_first` — the first sequence (shard-local index
    *    `pack_off DIV seqLen`) holding any of its tokens;
    *  - `seq_off`   — its token offset within that sequence;
    *  - `seq_spans` — how many consecutive sequences it crosses (≥ 1).
    * Offsets are a running sum in md5-of-id order within the shard —
    * hash order, so one source/domain cannot occupy a contiguous run of
    * training sequences however the input was sorted (the mixing
    * property packing exists to provide), and the layout is reproducible
    * from the ids alone: re-runs, repartitions, and any engine with md5
    * agree byte-for-byte. Ids must be UNIQUE for that to hold (the
    * packing family's standing contract — duplicate ids tie completely
    * in the ordering, making the duplicates' own offsets
    * partition-order-dependent); dedup upstream when the source can
    * repeat them.
    *
    * Scale shape: ONE shuffle on `shard`, then a per-shard sort +
    * row-frame running sum (O(1) window state). Each shard's window is
    * a single reducer over |corpus|/nShards rows — size `nShards` to
    * the cluster (default 1024; hash-uniform, so no skew story needed),
    * NOT 1: a single global stream would serialize the whole corpus
    * through one task. Power-of-two `nShards` up to 65536 divides the
    * 16-bit md5 prefix evenly (zero bucket bias; other values carry the
    * documented [[hashSplit]]-style 65536 % nShards remainder bias).
    * Waste is only each shard's final partial sequence — < nShards ·
    * seqLen tokens total, vanishing at corpus scale. NOT incremental BY
    * ITSELF: appending docs re-offsets everything after them in the
    * shard stream — pack at corpus-build time, or freeze the layout
    * behind a [[packIndexBuild]] index and lay later batches out AFTER
    * history with [[packIndexAppend]] (history's offsets never move).
    * Null ids, null token counts, and docs with < 1 token
    * fail loudly (a 0-token doc has no place in a token stream, and a
    * silent drop would skew the stream vs the caller's row count). */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long, nShards: Int = 1024): DataFrame = {
    require(seqLen >= 1, s"seqLen must be positive (got $seqLen)")
    require(nShards >= 1 && nShards <= 65536,
      s"nShards must be in 1..65536 (got $nShards)")
    // Fail loudly (the design rule this operator's null handling states)
    // rather than silently overwrite a caller column with withColumn, or
    // silently drop a caller's __h/__t at the end.
    val reserved = Seq("shard", "pack_off", "seq_first", "seq_off",
      "seq_spans", "__h", "__t")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"packSequences emits/uses columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before packing")
    val w = Window.partitionBy("shard").orderBy(col("__h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__h", md5(col(idCol).cast("string")))
      .withColumn("shard", packShard(idCol, nShards))
      .withColumn("__t", packToks(idCol, tokensCol))
      .withColumn("pack_off", sum(col("__t")).over(w) - col("__t"))
      .withColumn("seq_first", expr(s"pack_off DIV $seqLen"))
      .withColumn("seq_off", pmod(col("pack_off"), lit(seqLen)))
      .withColumn("seq_spans",
        expr(s"(pack_off + __t - 1) DIV $seqLen") - col("seq_first") + 1)
      .drop("__h", "__t")
  }

  /** [[packSequences]]'s shard key as a column — a pure function of the
    * id, shared by the packer, the pack index's offset aggregation, and
    * any engine that needs to reproduce the layout. */
  private def packShard(idCol: String, nShards: Int): Column =
    (conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("int") % nShards).cast("int")

  /** Guarded token count shared by the token-layout operators: null ids
    * and null/< 1 token counts fail loudly wherever the layout math
    * runs, with the failing OPERATOR named (not the helper). */
  private def tokGuard(op: String, idCol: String,
      tokensCol: String): Column =
    when(col(idCol).isNull, raise_error(lit(s"$op: null id '$idCol'")))
      .when(col(tokensCol).isNull || col(tokensCol) < 1,
        raise_error(concat(lit(s"$op: doc "),
          col(idCol).cast("string"), lit(s" has token count "),
          coalesce(col(tokensCol).cast("string"), lit("NULL")),
          lit(" — every doc needs >= 1 token"))))
      .otherwise(col(tokensCol).cast("long"))

  /** [[packSequences]]'s guarded token count. */
  private def packToks(idCol: String, tokensCol: String): Column =
    tokGuard("packSequences", idCol, tokensCol)

  /** Materialize [[packSequences]]'s layout as the per-(doc, sequence)
    * manifest a training-data loader actually consumes: one row per
    * sequence a doc contributes tokens to, with the slice bounds on both
    * sides —
    *  - `shard`, `seq_id` — which fixed-length sequence (shard-local
    *    index) this row fills;
    *  - `doc_from` / `doc_to` — the doc-relative token slice
    *    [doc_from, doc_to) that lands in this sequence;
    *  - `seq_from` — where in the sequence the slice begins (its length
    *    is `doc_to - doc_from`, so no redundant `seq_to`).
    * Derived from the absolute stream offsets: sequence `seq_id` covers
    * stream tokens [seq_id·seqLen, (seq_id+1)·seqLen) and the doc covers
    * [pack_off, pack_off + tokens), so the slice is the intersection,
    * re-based to each side. Invariant (spec-pinned by a ScalaCheck
    * property): within every sequence the slices tile [0, seqLen)
    * exactly — no gaps, no overlaps — except each shard's final partial
    * sequence, which tiles [0, tail). Emits the input plus the five
    * manifest columns (the intermediate pack_* offsets are dropped;
    * [[packSequences]] reproduces them deterministically if needed).
    *
    * Scale shape: [[packSequences]]'s one shuffle + per-shard window,
    * then a narrow per-row explode of `seq_spans` rows — output size is
    * input tokens / seqLen extra rows (each cut adds one row), no new
    * shuffle, no skew beyond the shard hash. Same loud-failure contract
    * as [[packSequences]] (null id / null or < 1 tokens, reserved column
    * names). */
  def packSequenceRows(df: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long, nShards: Int = 1024): DataFrame = {
    val reserved = Seq("seq_id", "doc_from", "doc_to", "seq_from", "__k")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"packSequenceRows emits/uses columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before packing")
    packLayoutRows(packSequences(df, idCol, tokensCol, seqLen, nShards),
      tokensCol, seqLen)
  }

  /** [[packSequenceRows]]'s explode stage over an EXISTING pack layout —
    * the manifest rows for a layout that did not come from a one-shot
    * [[packSequences]] call, e.g. an appended batch's layout from
    * [[packIndexAppend]] (whose offsets are rebased onto history, so
    * re-running the one-shot packer would NOT reproduce them). Same
    * output columns, same tiling invariants, same loud-failure contract;
    * `laid` must carry the layout columns (pack_off / seq_first /
    * seq_spans) and the token-count column. */
  def packLayoutRows(laid: DataFrame, tokensCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be positive (got $seqLen)")
    val needed = Seq("pack_off", "seq_first", "seq_spans", tokensCol)
    val missing = needed.filterNot(laid.columns.contains)
    require(missing.isEmpty,
      s"packLayoutRows needs a pack layout (missing ${missing.mkString(", ")})" +
        " — produce one with packSequences or packIndexAppend")
    val reserved = Seq("seq_id", "doc_from", "doc_to", "seq_from", "__k")
    val clash = laid.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"packLayoutRows emits/uses columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename first")
    laid.withColumn("__k",
        explode(sequence(lit(0L), col("seq_spans") - lit(1L))))
      .withColumn("seq_id", col("seq_first") + col("__k"))
      .withColumn("doc_from",
        greatest(lit(0L), col("seq_id") * seqLen - col("pack_off")))
      .withColumn("doc_to",
        least(col(tokensCol).cast("long"),
          (col("seq_id") + 1) * seqLen - col("pack_off")))
      .withColumn("seq_from",
        greatest(lit(0L), col("pack_off") - col("seq_id") * seqLen))
      .drop("__k", "pack_off", "seq_first", "seq_off", "seq_spans")
  }

  /** The loader-side REMOVAL mask for a frozen pack layout — the
    * packing family's answer to [[corpusDiff]]'s `removed` work-list,
    * completing the erasure story the index retracts
    * ([[digestIndexRetract]] and twins) cannot reach: a packed corpus
    * CANNOT unpack history — freezing the layout byte-for-byte so
    * materialized training rows stay valid is [[packIndexBuild]]'s
    * whole point — so removal there is a SKIP-MANIFEST, not a rewrite.
    * One row per (removed doc, spanned sequence) with
    * [[packLayoutRows]]' exact slice geometry (`shard`, `seq_id`,
    * `doc_from`, `doc_to`, `seq_from` — the in-sequence skip span is
    * `[seq_from, seq_from + doc_to - doc_from)`): a training loader
    * subtracts these spans when materializing batches, and the next
    * full repack simply omits the doc. `laid` is the corpus's layout
    * ([[packSequences]] / [[packIndexBuild]] / [[packIndexAppend]]
    * output — reproducible from the ids, so recomputable any time);
    * `removed` carries the ids to mask (unknown ids are a harmless
    * no-op — they have no spans). Cost: one equi-join (removed ids are
    * tiny next to the corpus — AQE broadcasts) + the per-span explode;
    * no extra shuffle. */
  def packSkipManifest(laid: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long, removed: DataFrame): DataFrame = {
    val ids = removed.select(col(idCol).as("__rid")).distinct()
    packLayoutRows(
      laid.join(ids, laid(idCol) === col("__rid"), "left_semi"),
      tokensCol, seqLen)
  }

  /** The pack-index logical tables ([[packIndexBuild]]). */
  private val PackTables = Seq("offsets")

  /** Freeze a corpus's [[packSequences]] layout behind a PERSISTENT pack
    * index at `indexDir` — the incremental completion of packing.
    * [[packSequences]] documents itself as corpus-build-time only:
    * appending docs to a packed corpus re-offsets everything after them
    * in the shard stream, invalidating already-materialized training
    * rows. This index removes that limitation the way
    * [[digestIndexBuild]] removed q112's per-batch history re-hash: it
    * records each shard stream's LENGTH (the next write offset), so
    * [[packIndexAppend]] can lay an arriving batch out AFTER history —
    * history's layout is frozen byte-for-byte, the batch tiles
    * `[base, base + batchTokens)` per shard in md5-of-id order.
    * Committed through the [[IndexStore]] versioned-snapshot protocol
    * (atomic publish, snapshot isolation, loud concurrent-writer
    * failure, [[indexVacuum]] reclaim). The immutable layout shape
    * rides as the `seq_len` and `n_shards` props, so appends never
    * need (or trust) caller-supplied dials; the one logical table,
    * `offsets` — (shard, next_off), holds each shard stream's token
    * length so far — `nShards` rows, index METADATA, not data.
    * No compact operation exists ON PURPOSE: unlike the band families
    * (whose appends accrete segments), every append REPLACES the
    * offsets table whole (`nShards` rows), so segments never
    * accumulate — only manifests do, and [[indexVacuum]] reclaims
    * those on the usual schedule.
    * Returns the corpus's layout (lazy — reproducible from the ids, so
    * nothing is pinned; [[packSequences]] on the same frame agrees
    * byte-for-byte).
    *
    * NOT the same corpus as one-shot packing the union later: one-shot
    * interleaves all docs in md5 order; build∘append freezes history
    * and appends the batch after it — by design (the point is that
    * history's materialized rows stay valid). The composition law the
    * spec pins is exactly that: history rows keep their one-shot
    * layout, and each appended batch's rows equal the batch's own
    * one-shot layout shifted by its shard's recorded base. */
  def packIndexBuild(corpus: DataFrame, idCol: String, tokensCol: String,
      indexDir: String, seqLen: Long, nShards: Int = 1024): DataFrame = {
    val laid = packSequences(corpus, idCol, tokensCol, seqLen, nShards)
    val spark = corpus.sparkSession
    IndexStore.commit(spark, indexDir, "packIndexBuild") { (_, v) =>
      // offsets derive from the LAYOUT plan itself (not a second
      // tokenize of the corpus): one logical path for both artifacts,
      // and the groupBy reuses the layout's shard exchange. The
      // returned layout is lazy — sound because packing's contract
      // already requires (id, tokens) to be re-execution-stable (the
      // layout is "reproducible from the ids alone"); pin the corpus
      // upstream if its plan is not.
      laid.select(col("shard"), col(tokensCol).cast("long").as("__t"))
        .groupBy("shard").agg(sum("__t").as("next_off"))
        .coalesce(1).write.parquet(s"$indexDir/$v/offsets")
      (PackTables.map(_ -> Seq(v)).toMap,
        Map("seq_len" -> seqLen.toString, "n_shards" -> nShards.toString))
    }
    laid
  }

  /** Lay an arriving batch out AFTER the corpus a [[packIndexBuild]]
    * index froze: the batch gets [[packSequences]]' within-batch layout
    * (md5-of-id order) REBASED by each shard's recorded stream length,
    * and the index's offsets advance — history's already-materialized
    * training rows stay valid, which is the reason this operator exists
    * (see [[packIndexBuild]] for why one-shot re-packing cannot promise
    * that). Returns the batch's layout rows. Their correctness against
    * the committed offsets comes from REBASING ON THE DRIVER-COLLECTED
    * PRE-COMMIT OFFSETS (the `used` map the commit closure captured) —
    * the returned frame never reads the index, so it cannot observe the
    * post-append offsets by construction; the eager local checkpoint on
    * top guards against RE-EXECUTION of the caller's plan (a
    * non-re-execution-stable input recomputing under a downstream
    * action). Feed the rows to [[packLayoutRows]] for the loader-facing
    * manifest. Layout dials come from the index's props, never the
    * caller. Empty batches are a no-op ([[ivfAppend]]'s
    * stance — no version churn).
    *
    * Concurrency and replay, the established mechanisms: the commit
    * goes through [[IndexStore.commitWithRetry]], and the offsets a
    * losing writer rebases on are re-read from the WINNER's snapshot
    * inside the retried commit closure — the returned layout always
    * matches the offsets actually published. `batchId` records the
    * foreachBatch replay watermark (`last_batch` / `last_batch_base`):
    * a replayed batch re-derives its first attempt's layout against the
    * recorded PRE-append offsets and skips the second append, exactly
    * [[CurationPipeline.curateIncremental]]'s contract. Per-shard
    * totals and offsets are collected driver-side — O(nShards) rows of
    * index metadata, the same budget as IVF's probed lists. */
  def packIndexAppend(batch: DataFrame, idCol: String, tokensCol: String,
      indexDir: String, batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val snap = indexSnapshot(spark, indexDir, "pack", "packIndexBuild")
    val seqLen = snap.prop("seq_len").toLong
    val nShards = snap.prop("n_shards").toInt
    // ONE materialization of the batch feeds the emptiness check, the
    // committed offset totals, and the returned layout — without the
    // pin those would be independent re-evaluations of the caller's
    // plan, and a non-re-execution-stable plan could commit offsets
    // that disagree with the layout actually returned
    // (curateIncremental's gated-batch contract).
    val pinned = batch.localCheckpoint(false)
    def offsetsOf(s: IndexStore.Snapshot): Map[Int, Long] =
      IndexStore.readTable(spark, indexDir, s, "offsets").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def rebased(base: Map[Int, Long]): DataFrame = {
      val baseDf = base.toSeq.toDF("shard", "__base")
      packSequences(pinned, idCol, tokensCol, seqLen, nShards)
        .join(broadcast(baseDf), Seq("shard"), "left")
        .withColumn("__base", coalesce(col("__base"), lit(0L)))
        .withColumn("pack_off", col("pack_off") + col("__base"))
        .withColumn("seq_first", expr(s"pack_off DIV $seqLen"))
        .withColumn("seq_off", pmod(col("pack_off"), lit(seqLen)))
        .withColumn("seq_spans",
          expr(s"(pack_off + CAST(`$tokensCol` AS BIGINT) - 1) DIV $seqLen")
            - col("seq_first") + 1)
        .drop("__base")
    }
    // the replay-watermark guard runs BEFORE the emptiness shortcut: a
    // second writer's below-watermark batch id must fail loudly even on
    // an empty trigger (curateIncremental's ordering), not appear to
    // succeed until its first non-empty batch
    val pre = replayBase(spark, indexDir, snap, batchId, "packIndexAppend")
    if (pinned.isEmpty)
      return packSequences(pinned, idCol, tokensCol, seqLen, nShards)
    val totals = pinned.select(packShard(idCol, nShards).as("shard"),
        packToks(idCol, tokensCol).as("__t"))
      .groupBy("shard").agg(sum("__t").as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    pre match {
      case Some(p) => rebased(offsetsOf(p)).localCheckpoint(true)
      case None =>
        var used: Map[Int, Long] = Map.empty
        var lostReplay: Option[IndexStore.Snapshot] = None
        swallowReplay(
          IndexStore.commitWithRetry(spark, indexDir, "packIndexAppend") {
          (baseOpt, v) =>
            val base = baseOpt.getOrElse(
              noIndex(spark, indexDir, "pack", "packIndexBuild"))
            // in-commit replay gate ([[skipIfReplayed]]'s zombie-writer
            // stance, in pack's time-travel form): the outer replayBase
            // check alone has the two-drivers hole — both pass it, the
            // loser's retried callback runs against the winner's fresh
            // base and the offsets double-advance, corrupting every
            // later pack_off/seq assignment. The base here is resolved
            // UNDER the claim, so the winner's watermark is visible;
            // when it records this batchId we abort the commit (no
            // version published) and re-derive the layout against the
            // winner's recorded PRE-append offsets below.
            lostReplay = replayBase(spark, indexDir, base, batchId,
              "packIndexAppend")
            if (lostReplay.isDefined) throw new ReplaySkipException
            val baseOffs = offsetsOf(base)
            used = baseOffs
            (baseOffs.keySet ++ totals.keySet).toSeq.sorted
              .map(sh => (sh, baseOffs.getOrElse(sh, 0L) +
                totals.getOrElse(sh, 0L)))
              .toDF("shard", "next_off")
              .coalesce(1).write.parquet(s"$indexDir/$v/offsets")
            (base.tables + ("offsets" -> Seq(v)),
              base.props ++ batchProps(batchId, base.version, negate = false))
        })
        lostReplay match {
          case Some(p) => rebased(offsetsOf(p)).localCheckpoint(true)
          case None => rebased(used).localCheckpoint(true)
        }
    }
  }

  /** Deterministic dataset split by md5-hash bucket of `keyCol`:
    * reproducible across re-runs, partition layouts, and incremental
    * appends. `weights` maps split name → percent, summing to 100; buckets
    * are assigned in the given order. Returns the input plus a `split`
    * column. A NULL key fails the job loudly (raise_error) — a null would
    * otherwise hash to no bucket and silently skew one split, and it
    * breaks the determinism contract.
    *
    * Known, accepted bias: the bucket is (first 4 md5 hex digits) mod 100,
    * and 65536 % 100 = 36, so buckets 0–35 each carry 656/65536 of the
    * key space vs 655/65536 for the rest — a ~0.15% relative over-weight,
    * deterministic and far below sampling noise at any practical size.
    * Documented rather than widened: the 4-digit prefix is what keeps the
    * bucket cheap to reproduce in ANY engine (the DuckDB oracles, a SQL
    * backfill, a spreadsheet check) without 64-bit hex parsing. */
  def hashSplit(df: DataFrame, keyCol: String,
      weights: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    require(weights.map(_._2).sum == 100, "split weights must sum to 100")
    val bucket = conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    val cumulative = weights.scanLeft(0)(_ + _._2).tail
    val split = weights.zip(cumulative).init
      .foldRight(lit(weights.last._1): Column) { case (((name, _), cum), rest) =>
        when(bucket < cum, name).otherwise(rest)
      }
    df.withColumn("split",
      when(col(keyCol).isNull,
        raise_error(lit(s"hashSplit: null split key '$keyCol'")))
        .otherwise(split))
  }

  /** Deterministic hash sample — the sampling twin of [[hashSplit]]: keeps
    * rows whose md5 bucket of `keyCol` falls in the first `pct` of 100.
    * Stable across re-runs, partition layouts, and appends (new rows never
    * change which old rows are sampled — `df.sample`/rand() resample
    * everything on every run); a key is either always in or always out. */
  def hashSample(df: DataFrame, keyCol: String, pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 99, "pct must be in 1..99")
    hashSplit(df, keyCol, Seq("keep" -> pct, "drop" -> (100 - pct)))
      .filter(col("split") === "keep").drop("split")
  }

  /** Key-pure deterministic Bernoulli sample with a PER-ROW rate: keeps
    * rows whose md5 bucket (over 10^6 — fine enough that the 16^12 % 10^6
    * bias is ~4e-9 relative) falls below `rate` ∈ [0, 1], where `rate` is
    * any Column: a literal, a CASE, a joined per-stratum weight. The
    * fractional-rate generalization of [[hashSample]]/[[hashSampleBy]],
    * with the same contract: append-stable, partition-invariant, a key
    * kept at rate p stays kept at any rate ≥ p, NULL keys fail loudly.
    * The comparison is integral (bucket < floor(rate·10^6)) so the keep
    * decision never hinges on a float ulp. */
  def hashSampleByRateCol(df: DataFrame, keyCol: String, rate: Column): DataFrame = {
    val bucket = md5MillionBucket(keyCol)
    df.withColumn("__thr",
      when(col(keyCol).isNull,
        raise_error(lit(s"hashSampleByRateCol: null sample key '$keyCol'")))
        .when(rate.isNull || rate < 0 || rate > 1,
          raise_error(concat(lit("hashSampleByRateCol: rate "),
            coalesce(rate.cast("string"), lit("NULL")),
            lit(" outside [0, 1]"))))
        .otherwise(floor(rate * 1000000L)))
      .filter(bucket < col("__thr")).drop("__thr")
  }

  /** The key-pure million-bucket md5 hash behind every fractional-rate
    * decision ([[hashSampleByRateCol]]'s keep, [[temperatureResample]]'s
    * fractional up-sample copy) — ONE definition, because the down/up
    * symmetry (a key gains its fractional copy iff it would be kept at
    * the fractional rate) holds only while the expressions are
    * byte-identical. */
  private def md5MillionBucket(keyCol: String): Column =
    conv(substring(md5(col(keyCol).cast("string")), 1, 12), 16, 10)
      .cast("long") % 1000000L

  /** The Efraimidis–Spirakis race clock behind [[weightedSampleBy]] /
    * [[weightedSample]]: row i draws the key-pure uniform
    * u = ([[md5MillionBucket]] + 1)/10^6 ∈ (0, 1] and clocks in at
    * ln(u)/w_i ≤ 0 — the monotone image of the A-ES key u^(1/w), so
    * "largest clocks win" selects WITHOUT replacement with inclusion
    * probability proportional to weight (Efraimidis & Spirakis, IPL
    * 2006, the exponential-race formulation). No RNG state: the clock
    * is a pure function of (key, weight), reproducible in any engine —
    * the DuckDB oracle re-derives it byte-for-byte. NULL keys and
    * non-positive/NULL weights fail the job loudly: a zero weight that
    * silently never samples, or a negative one that inverts the race,
    * is a data bug upstream, not a preference. */
  private def aresClock(idCol: String, weightCol: String, op: String): Column = {
    val u = (md5MillionBucket(idCol) + 1L) / lit(1e6)
    when(col(idCol).isNull,
        raise_error(lit(s"$op: null sample key '$idCol'")))
      .when(col(weightCol).isNull || col(weightCol) <= 0,
        raise_error(concat(lit(s"$op: weight '$weightCol' = "),
          coalesce(col(weightCol).cast("string"), lit("NULL")),
          lit(" — must be > 0"))))
      .otherwise(log(u) / col(weightCol))
  }

  /** Deterministic weighted sampling WITHOUT replacement, k rows per
    * stratum: the k largest [[aresClock]] values win within each
    * `strataCol` group (ties — same md5 bucket AND same weight — break
    * on `idCol`, so the winner set is total-order determined). Selects
    * with P(i) ∝ weight_i, jointly without replacement — the
    * statistically sound mix draw, vs [[budgetByTokens]]'s GREEDY
    * top-score fill which takes the head of the score order and never
    * represents the tail. Weight-proportional length sampling
    * (w = token count), quality-proportional selection (w = model
    * score), and per-source balanced draws (strata = source) are all
    * this one call. Append-stable the way [[hashSample]] is: clocks
    * are key-pure, so growing the corpus never REORDERS existing rows —
    * new rows can only displace winners from the boundary, and the
    * survivors are always a prefix of the previous winner order.
    *
    * Scale shape: ONE shuffle on the stratum key, and the rank-≤-k
    * filter rewrites to WindowGroupLimit (Spark ≥ 3.5), so every map
    * task forwards at most k rows per stratum into the shuffle — the
    * sort never materializes a full stratum. Output = input columns
    * unchanged. */
  def weightedSampleBy(df: DataFrame, idCol: String, weightCol: String,
      strataCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val w = Window.partitionBy(strataCol)
      .orderBy(col("__clock").desc, col(idCol).asc)
    df.withColumn("__clock", aresClock(idCol, weightCol, "weightedSampleBy"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__clock", "__rn")
  }

  /** GLOBAL deterministic weighted sample without replacement — the
    * unstratified twin of [[weightedSampleBy]], same clock, same
    * contract, but the top-k is taken with orderBy(...).limit(k), which
    * Spark executes as TakeOrderedAndProject: per-partition partial
    * top-k, then a k-row driver merge — no single-partition sort of the
    * corpus, safe at any input size for the k a sample means. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    df.withColumn("__clock", aresClock(idCol, weightCol, "weightedSample"))
      .orderBy(col("__clock").desc, col(idCol).asc)
      .limit(k)
      .drop("__clock")
  }

  /** A corpus's per-occurrence 1..n-gram feature rows, (did, feat) —
    * [[dsirScores]]'s substrate. Whitespace tokens; an m-gram feature is
    * the space-joined window (the gram-index text convention). Docs
    * shorter than m contribute no m-grams; every doc contributes its
    * unigrams (split("") = [""] — one empty token — matching the bm25 /
    * scrub tokenizer across engines). */
  private def dsirFeats(docs: DataFrame, idCol: String, textCol: String,
      n: Int, op: String): DataFrame = {
    val toks = fanOutForCpu(docs).select(
      requireKey(docs, idCol, op).cast("long").as("did"),
      split(when(col(textCol).isNull, raise_error(lit(
          s"$op: null text '$textCol' — the doc would silently score 0")))
        .otherwise(col(textCol)), " ").as("ts"))
    val gramsAt = (1 to n).map(m => expr(
      s"""CASE WHEN size(ts) >= $m
         |  THEN transform(sequence(1, size(ts) - ${m - 1}),
         |    i -> array_join(slice(ts, i, $m), ' '))
         |  ELSE array() END""".stripMargin))
    toks.select(col("did"),
      explode(flatten(array(gramsAt: _*))).as("feat"))
  }

  /** DSIR importance scores — Data Selection via Importance Resampling
    * (Xie et al., NeurIPS 2023, public): rank a RAW corpus by how much
    * more likely each document is under a TARGET distribution than under
    * the raw one, using bag-of-n-gram likelihoods,
    *   score(d) = Σ_g c_d(g) · (ln p̂_T(g) − ln p̂_R(g)),
    * with add-one smoothing over the shared feature space (p̂(g) =
    * (count(g) + 1)/(N + V)). The distribution-matching selector the
    * curation family otherwise lacks: quality gates ([[repetitionStats]]
    * and friends) score documents in isolation; this scores them against
    * WHAT YOU WANT MORE OF (a seed of in-domain text).
    *
    * Scale shape: each corpus reduces ONCE to per-feature counts
    * (map-side-combined groupBy on fixed-width keys); the log-ratio
    * table is one full-outer join of the two count tables; per-doc
    * scoring is one equi-join of the raw feature stream against that
    * table plus a map-side-combined per-doc sum. N_R, N_T, V are three
    * driver scalars. `featureBuckets = Some(B)` is the 100 TB dial —
    * the paper's hashed-feature variant: features hash into B buckets
    * (pmod(xxhash64(gram), B)), so the count/ratio tables are bounded at
    * B rows REGARDLESS of vocabulary (B ≈ 10⁴ in the paper) and the
    * ratio table broadcasts into the scoring join; collisions blur
    * ratios (quantified in the paper), never break the algebra. The
    * default text-keyed path is exact and engine-portable — the
    * registry row's DuckDB oracle re-derives it to the 4dp boundary.
    * Emits (doc_id, score), one row per raw doc. */
  def dsirScores(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, n: Int = 2,
      featureBuckets: Option[Int] = None): DataFrame = {
    require(n >= 1 && n <= 4, s"n must be in 1..4 (got $n)")
    featureBuckets.foreach(b =>
      require(b >= 16, s"featureBuckets must be >= 16 (got $b)"))
    // doctrine carve-out (header rule 1): synthetic key for counting —
    // dsirFeats needs a row-unique doc key to count the target side's
    // feature events; __tid feeds that count and never reaches output
    val tgt = target.select(col(targetTextCol))
      .withColumn("__tid", monotonically_increasing_id())
    val rawF0 = dsirFeats(raw, idCol, textCol, n, "dsirScores")
    val tgtF0 = dsirFeats(tgt, "__tid", targetTextCol, n, "dsirScores")
    def keyed(f: DataFrame): DataFrame = featureBuckets.fold(
      f.withColumnRenamed("feat", "k"))(b =>
      f.select(col("did"),
        pmod(xxhash64(col("feat")), lit(b.toLong)).cast("string").as("k")))
    val rawF = keyed(rawF0)
    val tgtF = keyed(tgtF0)
    val rawCnt = rawF.groupBy("k").agg(count(lit(1)).as("cr"))
    val tgtCnt = tgtF.groupBy("k").agg(count(lit(1)).as("ct"))
    // three driver scalars (bounded metadata): totals and |feature space|
    val nr = rawF.count()
    val nt = tgtF.count()
    val v: Long = featureBuckets.map(_.toLong).getOrElse(
      rawCnt.select("k").union(tgtCnt.select("k")).distinct().count())
    val ratio = rawCnt.join(tgtCnt, Seq("k"), "full")
      .select(col("k"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
            lit((nt + v).toDouble)) -
          log((coalesce(col("cr"), lit(0L)) + lit(1.0)) /
            lit((nr + v).toDouble))).as("lr"))
    // hashed path: B rows, broadcast; text path: vocabulary-sized,
    // shuffle equi-join (AQE broadcasts it when it turns out small)
    val r = featureBuckets.fold(ratio)(_ => broadcast(ratio))
    rawF.join(r, Seq("k"))
      .groupBy("did").agg(round(sum("lr"), 4).as("score"))
      .select(col("did").as("doc_id"), col("score"))
  }

  private val DsirTables = Seq("raw_counts", "tgt_counts", "totals")

  /** A batch's per-feature count deltas for one DSIR-stats segment:
    * (k, cnt, bucket). `negate` flips the sign (the retraction
    * segment — the gram-count model). Text-keyed features bucket by
    * pmod(xxhash64(feature), nBuckets) for probe-side pruning; hashed
    * features (featureBuckets mode) ARE their bucket. */
  private def dsirCountDelta(docs: DataFrame, idCol: String,
      textCol: String, n: Int, nBuckets: Int,
      featureBuckets: Option[Int], op: String,
      negate: Boolean): DataFrame = {
    val sign = if (negate) -1L else 1L
    val f0 = dsirFeats(docs, idCol, textCol, n, op)
    val keyed = featureBuckets.fold(
      f0.select(col("feat").as("k"),
        pmod(xxhash64(col("feat")), lit(nBuckets.toLong)).cast("int")
          .as("bucket")))(b =>
      f0.select(
        pmod(xxhash64(col("feat")), lit(b.toLong)).cast("string").as("k"),
        pmod(xxhash64(col("feat")), lit(nBuckets.toLong)).cast("int")
          .as("bucket")))
    keyed.groupBy("k", "bucket")
      .agg((count(lit(1)) * lit(sign)).as("cnt"))
      .select("k", "cnt", "bucket")
  }

  /** Persistent DSIR feature-count stats — [[dsirScores]]'s incremental
    * substrate (the seventh index family, in the gram-count mold):
    * where the one-shot re-counts the whole raw pool per call, this
    * store persists the pool's and the target seed's per-feature counts
    * ONCE, additively — append writes positive count segments,
    * [[dsirStatsRetract]] the same counts negated (arithmetic is the
    * sequencing; retract exactly what you appended, once),
    * [[dsirStatsCompact]] folds the chain and drops net-nonpositive
    * rows. [[dsirScoreAgainstStats]] then scores an ARRIVING batch in
    * O(batch + touched buckets): the batch counts toward the raw
    * distribution it is being judged against (it is part of the pool —
    * q132's batch-plus-history convention), so the spec-pinned law is
    *   scoreAgainstStats(B | stats(H, T)) ≡
    *     dsirScores(raw = H ∪ B, target = T) restricted to B,
    * for whatever live multiset H the append/retract script left — and
    * the oracle is exact. `side` routes a batch to the raw pool or the
    * target seed (both evolve in production; both forget the same way).
    * Text-keyed counts bucket by feature hash for probe pruning;
    * `featureBuckets = Some(B)` stores hashed features outright — the
    * bounded-table scale mode (V = B needs no vocabulary scan at probe
    * time; the text mode derives V from the folded count tables, one
    * aggregate over data ~3 orders of magnitude under the text).
    * Tables: `raw_counts`, `tgt_counts`, `totals`; props `n`,
    * `n_buckets` and `feature_buckets` (0 = text-keyed). */
  def dsirStatsBuild(pool: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, indexDir: String,
      n: Int = 2, featureBuckets: Option[Int] = None,
      nBuckets: Int = 256): Unit = {
    require(n >= 1 && n <= 4, s"n must be in 1..4 (got $n)")
    require(nBuckets >= 1 && nBuckets <= (1 << 20),
      s"nBuckets must be in 1..${1 << 20} (got $nBuckets)")
    featureBuckets.foreach(b =>
      require(b >= 16, s"featureBuckets must be >= 16 (got $b)"))
    val spark = pool.sparkSession
    // doctrine carve-out (header rule 1): synthetic key for counting —
    // same as dsirScores' target side; __tid never reaches the segment
    val tgt = target.select(col(targetTextCol))
      .withColumn("__tid", monotonically_increasing_id())
    IndexStore.commit(spark, indexDir, "dsirStatsBuild") { (_, v) =>
      // the raw-pool and target-seed count segments are independent —
      // overlapped (guide §2.6); totals then reads both PINNED frames'
      // checkpointed blocks
      var rawPinned: DataFrame = null
      var tgtPinned: DataFrame = null
      inParallel(
        () => rawPinned = writeBucketedOrEmpty(dsirCountDelta(pool,
          idCol, textCol, n, nBuckets, featureBuckets, "dsirStatsBuild",
          negate = false), s"$indexDir/$v/raw_counts"),
        () => tgtPinned = writeBucketedOrEmpty(dsirCountDelta(tgt,
          "__tid", targetTextCol, n, nBuckets, featureBuckets,
          "dsirStatsBuild",
          negate = false), s"$indexDir/$v/tgt_counts"))
      // the two N scalars as ADDITIVE per-segment deltas (the bm25
      // stats convention): the probe reads totals, never a full fold.
      // Derived from the PINNED count segments (Σcnt = the batch's
      // feature events, sign included), so totals can never disagree
      // with the written counts — one scan of the input, not two
      dsirTotalsDelta(pool.sparkSession,
        dsirTotalOf(rawPinned), dsirTotalOf(tgtPinned))
        .coalesce(1).write.parquet(s"$indexDir/$v/totals")
      (DsirTables.map(_ -> Seq(v)).toMap,
        Map("n" -> n.toString, "n_buckets" -> nBuckets.toString,
          "feature_buckets" -> featureBuckets.getOrElse(0).toString))
    }
    ()
  }

  /** Add a batch's feature counts to a [[dsirStatsBuild]] store —
    * `side = "raw"` (the pool) or `"target"` (the seed). O(batch), one
    * bucketed segment; empty batches are a no-op. `batchId` records the
    * foreachBatch replay watermark (`last_batch` / `last_batch_base`)
    * exactly as the fingerprint/digest appends do, so
    * [[CurationPipeline.curateIncremental]]'s distribution gate skips a
    * replayed batch's second append and re-scores against the recorded
    * pre-append base. */
  def dsirStatsAppend(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, side: String = "raw",
      batchId: Option[Long] = None): Unit =
    dsirStatsDelta(batch, idCol, textCol, indexDir, side,
      "dsirStatsAppend", negate = false, batchId)

  /** Erase a batch's feature counts from a [[dsirStatsBuild]] store —
    * the negated segment (retract exactly what you appended, once).
    * Takes effect at commit; the next [[dsirStatsCompact]] folds the
    * bytes away. */
  def dsirStatsRetract(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, side: String = "raw"): Unit =
    dsirStatsDelta(batch, idCol, textCol, indexDir, side,
      "dsirStatsRetract", negate = true)

  /** A DSIR store's hashed-feature bucket count; None = text-keyed. */
  private def dsirFeatureBuckets(snap: IndexStore.Snapshot): Option[Int] =
    Some(snap.prop("feature_buckets").toInt).filter(_ != 0)

  private def sideTable(side: String, op: String): String = side match {
    case "raw" => "raw_counts"
    case "target" => "tgt_counts"
    case other => throw new IllegalArgumentException(
      s"$op: side must be 'raw' or 'target' (got '$other')")
  }

  private def dsirTotalsDelta(spark: org.apache.spark.sql.SparkSession,
      dNr: Long, dNt: Long): DataFrame = {
    import spark.implicits._
    Seq(("raw", dNr), ("target", dNt)).toDF("side", "cnt")
  }

  /** The signed feature-event total of a PINNED count segment — Σcnt
    * (each feature event contributes sign×1 to exactly one count row),
    * so the totals delta is derived from the bytes actually written. */
  private def dsirTotalOf(pinnedCounts: DataFrame): Long =
    pinnedCounts.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)

  private def dsirStatsDelta(batch: DataFrame, idCol: String,
      textCol: String, indexDir: String, side: String, op: String,
      negate: Boolean, batchId: Option[Long] = None): Unit = {
    val table = sideTable(side, op)
    val spark = batch.sparkSession
    deltaCommit(spark, indexDir, op, "dsir-stats", "dsirStatsBuild", batchId,
        negate, batch.isEmpty) { (base, v) =>
      val pinned = writeBucketedOrEmpty(dsirCountDelta(batch, idCol,
        textCol, base.prop("n").toInt, base.prop("n_buckets").toInt,
        dsirFeatureBuckets(base), op, negate),
        s"$indexDir/$v/$table")
      // totals derived from the pinned segment (Σcnt carries the sign) —
      // a second scan of a non-deterministic batch could write totals
      // the count segment doesn't back, skewing N in every later probe
      val dN = dsirTotalOf(pinned)
      dsirTotalsDelta(spark,
        if (side == "raw") dN else 0L, if (side == "raw") 0L else dN)
        .coalesce(1).write.parquet(s"$indexDir/$v/totals")
      Seq(table, "totals")
    }
  }

  /** Fold a DSIR-stats store's segment chains: sum counts per feature
    * key, drop net-nonpositive rows on both sides, rewrite bucketed
    * ([[compactCommit]]). */
  def dsirStatsCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    compactCommit(spark, indexDir, "dsirStatsCompact", "dsir-stats",
        "dsirStatsBuild") {
      (base, v) =>
        Seq("raw_counts", "tgt_counts").foreach { t =>
          writeBucketedOrEmpty(
            IndexStore.readTable(spark, indexDir, base, t)
              .groupBy("k")
              .agg(sum("cnt").as("cnt"), max("bucket").as("bucket"))
              .filter(col("cnt") > 0)
              .select("k", "cnt", "bucket"),
            s"$indexDir/$v/$t")
        }
        IndexStore.readTable(spark, indexDir, base, "totals")
          .groupBy("side").agg(coalesce(sum("cnt"), lit(0L)).as("cnt"))
          .coalesce(1).write.parquet(s"$indexDir/$v/totals")
        DsirTables
    }

  /** Score an arriving batch against a [[dsirStatsBuild]] store WITHOUT
    * re-reading the pool: the batch's own feature counts ADD to the
    * persisted raw counts (the batch is part of the pool it is judged
    * against — q132's convention, and what makes the one-shot law
    * exact), history prunes to the batch's touched buckets and folds
    * per key before the join, and the scoring tail is [[dsirScores]]'s.
    * Net-negative history (the documented double-retract misuse) clamps
    * at zero. N_R/N_T/V derive from the folded tables — in
    * featureBuckets mode V = B with no scan; text mode pays one
    * aggregate over the (tiny) count tables. Emits (doc_id, score),
    * one row per batch doc. `snapshot` pins the read to a specific
    * manifest version (the replay time-travel slot —
    * [[CurationPipeline.curateIncremental]] scores a replayed batch
    * against the recorded PRE-append base so the first attempt's gate
    * verdicts reproduce exactly); None reads the latest. */
  def dsirScoreAgainstStats(batch: DataFrame, idCol: String,
      textCol: String, indexDir: String,
      snapshot: Option[IndexStore.Snapshot] = None): DataFrame = {
    val spark = batch.sparkSession
    val snap = snapshot.getOrElse(
      IndexStore.resolve(spark, indexDir).getOrElse(
        throw new IllegalArgumentException(
          s"dsirScoreAgainstStats: no index at $indexDir — build one " +
            "with dsirStatsBuild first")))
    val (n, nBuckets) = (snap.prop("n").toInt, snap.prop("n_buckets").toInt)
    val fb = dsirFeatureBuckets(snap)
    val f0 = dsirFeats(batch, idCol, textCol, n, "dsirScoreAgainstStats")
    val batchF = fb.fold(f0.withColumnRenamed("feat", "k"))(b =>
      f0.select(col("did"),
        pmod(xxhash64(col("feat")), lit(b.toLong)).cast("string").as("k")))
      .localCheckpoint(false)
    // text mode prunes history scans to the batch's buckets (k IS the
    // feature, so its hash reproduces the stored bucket); featureBuckets
    // mode reads the whole ≤ B-row table — nothing to prune
    val touched: Seq[Int] = fb.fold(
      batchF.select(
          pmod(xxhash64(col("k")), lit(nBuckets.toLong)).cast("int")
            .as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq)(_ => Seq.empty)
    def folded(table: String): DataFrame = {
      val t = IndexStore.readTable(spark, indexDir, snap, table)
      fb.fold(t.filter(col("bucket").isin(touched: _*)))(_ => t)
        .groupBy("k").agg(sum("cnt").as("cnt"))
        .filter(col("cnt") > 0) // net-nonpositive = retracted (or the
                                // documented double-retract misuse,
                                // which degrades to unseen, never a
                                // negative probability)
    }
    val histRaw = folded("raw_counts").withColumnRenamed("cnt", "chr")
    val histTgt = folded("tgt_counts").withColumnRenamed("cnt", "cht")
    val batchCnt = batchF.groupBy("k").agg(count(lit(1)).as("cb"))
    // scalars: totals fold additively (never a count-table scan); V is
    // B in featureBuckets mode, else one distinct over the folded
    // count tables ∪ the batch keys (data ~3 orders under the text)
    val totals = IndexStore.readTable(spark, indexDir, snap, "totals")
      .groupBy("side").agg(coalesce(sum("cnt"), lit(0L)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nr = totals.getOrElse("raw", 0L) + batchF.count()
    val nt = totals.getOrElse("target", 0L)
    require(nt > 0,
      "dsirScoreAgainstStats: the store holds no live target features — " +
        "append a target seed (side = \"target\") first")
    def liveKeys(table: String): DataFrame =
      IndexStore.readTable(spark, indexDir, snap, table)
        .groupBy("k").agg(sum("cnt").as("cnt"))
        .filter(col("cnt") > 0).select("k")
    val v: Long = fb.map(_.toLong).getOrElse(
      liveKeys("raw_counts")
        .union(liveKeys("tgt_counts"))
        .union(batchCnt.select("k"))
        .distinct().count())
    val ratio = batchCnt
      .join(histRaw, Seq("k"), "left")
      .join(histTgt, Seq("k"), "left")
      .select(col("k"),
        (log((coalesce(col("cht"), lit(0L)) + lit(1.0)) /
            lit((nt + v).toDouble)) -
          log((coalesce(col("chr"), lit(0L)) + col("cb") + lit(1.0)) /
            lit((nr + v).toDouble))).as("lr"))
    batchF.join(ratio, Seq("k"))
      .groupBy("did").agg(round(sum("lr"), 4).as("score"))
      .select(col("did").as("doc_id"), col("score"))
  }

  /** N-gram language-model perplexity per document — the CCNet-style
    * fluency signal (Wenzek et al., LREC 2020, public: filter/bucket web
    * text by the perplexity of a language model trained on a CLEAN
    * reference corpus): an add-one-smoothed bigram model (n = 2, the
    * default; n = 1 is the unigram twin) is trained on `lm`, and each
    * doc scores
    *   ppl(d) = exp(−mean_{events} ln p(w | prev)),
    *   p(w | prev) = (c(prev w) + 1) / (c(prev) + V),
    * with V = the reference's unigram vocabulary size. Low ppl = fluent
    * under the reference; CCNet buckets head/middle/tail on per-language
    * ppl terciles — compose with [[quantileByRank]] (q129) for exactly
    * that (suite-pinned composition). Complements [[dsirScores]]: DSIR
    * is RELATIVE (target-over-raw ratio), this is ABSOLUTE fluency
    * under one reference — CCNet's gate uses this alone.
    *
    * Scale shape: the reference reduces ONCE to unigram and bigram
    * count tables (map-side-combined groupBys); scoring is two
    * equi-joins of the docs' event stream against them (AQE broadcasts
    * the count tables when they are small; at web scale the bigram
    * table shuffles — bounded by OBSERVED bigrams, not V²) plus one
    * per-doc map-side-combined mean. V is one driver scalar. Unseen
    * events smooth, never null: an unseen bigram scores
    * 1/(c(prev) + V), an unseen prev 1/V — OOV text gets HIGH
    * perplexity, which is the signal. Docs with fewer than n tokens
    * have no events and emit NULL ppl (explicit, not a silent 0 —
    * callers decide whether lengthless docs pass). Emits
    * (doc_id, ppl, n_events), one row per doc, ppl 4dp-rounded (the
    * engine-portable boundary, like the scoring family). */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, lmTextCol: String, n: Int = 2): DataFrame = {
    require(n == 1 || n == 2, s"n must be 1 or 2 (got $n)")
    val ref = lm.select(split(when(col(lmTextCol).isNull, raise_error(lit(
        "lmPerplexity: null text in the reference corpus")))
      .otherwise(col(lmTextCol)), " ").as("ts"))
    val uni = ref.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    // two driver scalars: vocabulary size and (for n = 1) total tokens
    val v = uni.count()
    // an empty reference gives V=0: every event would divide by zero,
    // lnp=+Inf, ppl rounds to 0.0 — every doc silently scores maximally
    // fluent and a low-ppl gate passes everything. Same contract as
    // bm25TopK / dsirScoreAgainstStats: refuse the empty corpus loudly.
    // (nTok needs no guard of its own: nTok >= v > 0.)
    require(v > 0, "lmPerplexity: empty reference corpus (no tokens)")
    val events = {
      val t = docs.select(
        requireKey(docs, idCol, "lmPerplexity").cast("long").as("did"),
        split(when(col(textCol).isNull, raise_error(lit(
            "lmPerplexity: null text — the doc would silently score")))
          .otherwise(col(textCol)), " ").as("ts"))
      if (n == 1) t.select(col("did"), explode(col("ts")).as("w"))
      else t.select(col("did"), explode(expr(
          """CASE WHEN size(ts) >= 2
            |  THEN transform(sequence(1, size(ts) - 1),
            |    i -> struct(ts[i - 1] AS prev, ts[i] AS w))
            |  ELSE array() END""".stripMargin)).as("e"))
        .select(col("did"), col("e.prev"), col("e.w"))
    }
    val lnp = if (n == 1) {
      val nTok = ref.select(explode(col("ts"))).count()
      events.join(uni, Seq("w"), "left")
        .withColumn("lnp",
          log((coalesce(col("cu"), lit(0L)) + lit(1.0)) /
            lit((nTok + v).toDouble)))
    } else {
      val big = ref.select(explode(expr(
          """CASE WHEN size(ts) >= 2
            |  THEN transform(sequence(1, size(ts) - 1),
            |    i -> struct(ts[i - 1] AS prev, ts[i] AS w))
            |  ELSE array() END""".stripMargin)).as("e"))
        .select(col("e.prev"), col("e.w"))
        .groupBy("prev", "w").agg(count(lit(1)).as("cb"))
      events
        .join(big, Seq("prev", "w"), "left")
        .join(uni.select(col("w").as("prev"), col("cu").as("cp")),
          Seq("prev"), "left")
        .withColumn("lnp",
          log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
            (coalesce(col("cp"), lit(0L)) + lit(v.toDouble))))
    }
    val scored = lnp.groupBy("did")
      .agg(round(exp(-avg("lnp")), 4).as("ppl"),
        count(lit(1)).cast("int").as("n_events"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(scored, col("doc_id") === col("did"), "left")
      .select(col("doc_id"), col("ppl"),
        coalesce(col("n_events"), lit(0)).as("n_events"))
  }

  private val LmTables = Seq("uni_counts", "big_counts", "totals")

  /** One LM-stats totals row derived from a PINNED unigram segment (the
    * dsir/bm25 sidecar convention — stats from the bytes actually
    * written, never a second scan of the input): `d_ntok` = Σcnt, the
    * segment's signed token total (ADDITIVE across segments — the probe
    * reads nTok as one sum over ≤ #segments rows, never a count-table
    * fold); `v_live` = the segment's live distinct-key count when the
    * segment IS a whole fold boundary (build/compact — the probe's V
    * baseline), null for plain append/retract deltas (liveness is not
    * additive; the probe corrects the baseline from the delta segments
    * since, pruned to their own buckets). */
  private def lmTotalsDelta(spark: org.apache.spark.sql.SparkSession,
      pinnedUni: DataFrame, foldBoundary: Boolean): DataFrame = {
    import spark.implicits._
    val agg = pinnedUni
      .agg(coalesce(sum("cnt"), lit(0L)), count(lit(1))).head()
    Seq((agg.getLong(0),
        if (foldBoundary) Some(agg.getLong(1)) else Option.empty[Long]))
      .toDF("d_ntok", "v_live")
  }

  /** A reference batch's token arrays, null-guarded — shared by the LM
    * store's delta writers. */
  private def lmRefTs(ref: DataFrame, textCol: String,
      op: String): DataFrame =
    fanOutForCpu(ref).select(split(when(col(textCol).isNull, raise_error(lit(
        s"$op: null text in the reference corpus")))
      .otherwise(col(textCol)), " ").as("ts"))

  /** A reference batch's unigram-count delta rows (w, cnt, bucket),
    * sign-flipped when `negate` — the gram-count arithmetic. */
  private def lmUniDelta(ref: DataFrame, textCol: String, nBuckets: Int,
      op: String, negate: Boolean): DataFrame = {
    val sign = if (negate) -1L else 1L
    lmRefTs(ref, textCol, op).select(explode(col("ts")).as("w"))
      .groupBy("w").agg((count(lit(1)) * lit(sign)).as("cnt"))
      .select(col("w"), col("cnt"),
        pmod(xxhash64(col("w")), lit(nBuckets.toLong)).cast("int")
          .as("bucket"))
  }

  /** A reference batch's bigram-count delta rows (prev, w, cnt,
    * bucket), bucketed by the (prev, w) hash so a probe prunes history
    * to its events' buckets. */
  private def lmBigDelta(ref: DataFrame, textCol: String, nBuckets: Int,
      op: String, negate: Boolean): DataFrame = {
    val sign = if (negate) -1L else 1L
    lmRefTs(ref, textCol, op)
      .select(explode(expr(
        """CASE WHEN size(ts) >= 2
          |  THEN transform(sequence(1, size(ts) - 1),
          |    i -> struct(ts[i - 1] AS prev, ts[i] AS w))
          |  ELSE array() END""".stripMargin)).as("e"))
      .select(col("e.prev"), col("e.w"))
      .groupBy("prev", "w").agg((count(lit(1)) * lit(sign)).as("cnt"))
      .select(col("prev"), col("w"), col("cnt"),
        pmod(xxhash64(col("prev"), col("w")), lit(nBuckets.toLong))
          .cast("int").as("bucket"))
  }

  /** Persistent LM-perplexity reference stats — [[lmPerplexity]]'s
    * incremental substrate (the NINTH index family, in the gram-count
    * mold): the one-shot re-reduces the whole clean reference corpus to
    * its count tables on every call — right for a one-off audit, wrong
    * when the reference is large and scoring batches arrive
    * continuously (the CCNet production shape: one curated reference,
    * every crawl batch gated against it). This store persists the
    * reference's unigram and bigram counts ONCE, additively — append
    * writes positive count segments, [[lmStatsRetract]] the same counts
    * negated (retract exactly what you appended, once),
    * [[lmStatsCompact]] folds the chains and drops net-nonpositive
    * rows — so the reference itself can evolve and FORGET (a document
    * removed from the clean reference stops lending fluency to
    * lookalikes at commit). [[lmPerplexityAgainstStats]] then scores a
    * batch in O(batch + touched buckets): history bigram/unigram counts
    * prune to the batch's event buckets and fold per key before the
    * join; V (and, for n = 1, the token total) derive from the folded
    * unigram table — one aggregate over count-table data ~3 orders of
    * magnitude under the reference text (the dsir text-mode
    * convention). The spec-pinned law:
    *   lmPerplexityAgainstStats(B | stats(R_net)) ≡ lmPerplexity(B,
    *   R_net) for whatever net reference the append/retract script
    * left — scores equal to the shared 4dp boundary, so the oracle is
    * exact. Unlike the DSIR store, the batch does NOT count toward the
    * reference (absolute fluency under a frozen corpus is the point —
    * arrivals must never teach the gate their own language). Tables:
    * `uni_counts`, `big_counts`, `totals`; props `n`, `n_buckets`. */
  def lmStatsBuild(ref: DataFrame, textCol: String, indexDir: String,
      n: Int = 2, nBuckets: Int = 256): Unit = {
    require(n == 1 || n == 2, s"n must be 1 or 2 (got $n)")
    require(nBuckets >= 1 && nBuckets <= (1 << 20),
      s"nBuckets must be in 1..${1 << 20} (got $nBuckets)")
    val spark = ref.sparkSession
    IndexStore.commit(spark, indexDir, "lmStatsBuild") { (_, v) =>
      // the uni chain (counts -> totals) and the bigram write share no
      // data dependency — overlapped (guide §2.6, inParallel)
      inParallel(
        () => {
          val pinnedUni = writeBucketedOrEmpty(
            lmUniDelta(ref, textCol, nBuckets, "lmStatsBuild",
              negate = false),
            s"$indexDir/$v/uni_counts")
          // a build is a fold boundary: every key in the segment is live
          lmTotalsDelta(spark, pinnedUni, foldBoundary = true)
            .coalesce(1).write.parquet(s"$indexDir/$v/totals")
        },
        // the bigram table writes for n = 1 too (empty schema cost
        // only): one layout for both orders, and the `n` prop decides
        // the probe
        () => { writeBucketedOrEmpty(
          lmBigDelta(ref, textCol, nBuckets, "lmStatsBuild",
            negate = false),
          s"$indexDir/$v/big_counts"); () })
      (LmTables.map(_ -> Seq(v)).toMap,
        Map("n" -> n.toString, "n_buckets" -> nBuckets.toString))
    }
    ()
  }

  /** Add a reference batch's counts to a [[lmStatsBuild]] store —
    * O(batch), one segment per table; empty batches are a no-op.
    * `batchId` records the foreachBatch replay watermark exactly as the
    * other stores do. */
  def lmStatsAppend(batch: DataFrame, textCol: String, indexDir: String,
      batchId: Option[Long] = None): Unit =
    lmStatsDelta(batch, textCol, indexDir, "lmStatsAppend",
      negate = false, batchId)

  /** Erase a reference batch's counts — the negated segment (retract
    * exactly what you appended, once). Takes effect at commit: the
    * removed reference text stops lending fluency; the next
    * [[lmStatsCompact]] folds the bytes away. */
  def lmStatsRetract(batch: DataFrame, textCol: String,
      indexDir: String): Unit =
    lmStatsDelta(batch, textCol, indexDir, "lmStatsRetract",
      negate = true, None)

  private def lmStatsDelta(batch: DataFrame, textCol: String,
      indexDir: String, op: String, negate: Boolean,
      batchId: Option[Long]): Unit = {
    val spark = batch.sparkSession
    deltaCommit(spark, indexDir, op, "LM-stats", "lmStatsBuild", batchId,
        negate, batch.isEmpty) { (base, v) =>
      val nBuckets = base.prop("n_buckets").toInt
      inParallel(
        () => {
          val pinnedUni = writeBucketedOrEmpty(
            lmUniDelta(batch, textCol, nBuckets, op, negate),
            s"$indexDir/$v/uni_counts")
          lmTotalsDelta(spark, pinnedUni, foldBoundary = false)
            .coalesce(1).write.parquet(s"$indexDir/$v/totals")
        },
        () => { writeBucketedOrEmpty(
          lmBigDelta(batch, textCol, nBuckets, op, negate),
          s"$indexDir/$v/big_counts"); () })
      LmTables
    }
  }

  /** Fold an LM-stats store's segment chains: sum counts per key, drop
    * net-nonpositive rows, rewrite bucketed ([[compactCommit]]). */
  def lmStatsCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    compactCommit(spark, indexDir, "lmStatsCompact", "LM-stats",
        "lmStatsBuild") {
      (base, v) =>
        val pinnedUni = writeBucketedOrEmpty(
          IndexStore.readTable(spark, indexDir, base, "uni_counts")
            .groupBy("w").agg(sum("cnt").as("cnt"),
              max("bucket").as("bucket"))
            .filter(col("cnt") > 0)
            .select("w", "cnt", "bucket"),
          s"$indexDir/$v/uni_counts")
        writeBucketedOrEmpty(
          IndexStore.readTable(spark, indexDir, base, "big_counts")
            .groupBy("prev", "w").agg(sum("cnt").as("cnt"),
              max("bucket").as("bucket"))
            .filter(col("cnt") > 0)
            .select("prev", "w", "cnt", "bucket"),
          s"$indexDir/$v/big_counts")
        // the fold re-baselines V: every key of the folded segment is
        // live, so later probes start here and correct forward only
        lmTotalsDelta(spark, pinnedUni, foldBoundary = true)
          .coalesce(1).write.parquet(s"$indexDir/$v/totals")
        LmTables
    }

  /** [[lmPerplexity]] against a persisted [[lmStatsBuild]] store — the
    * CCNet gate WITHOUT re-reading the reference: the batch's events
    * derive in-row, history counts prune to the events' buckets
    * (bigrams by the (prev, w) hash, the prev-unigrams by the prev
    * hash) and fold per key before the join, and the scoring tail is
    * [[lmPerplexity]]'s verbatim — add-one smoothing, NULL ppl for
    * sub-n-token docs, 4dp rounding. The two scalars ride the additive
    * totals convention (bm25/dsir): nTok sums per-segment d_ntok
    * deltas (≤ #segments rows); V reads the latest fold boundary's
    * v_live (build/compact count their own folded segment) corrected
    * by the delta segments since, with pre-fold history PRUNED to the
    * delta keys' buckets — never a full count-table fold, and zero
    * correction on a freshly-compacted store. A retraction still
    * shrinks V at commit, exactly as re-training the one-shot LM
    * would. `snapshot` pins the read for replays. Emits
    * (doc_id, ppl, n_events). */
  def lmPerplexityAgainstStats(docs: DataFrame, idCol: String,
      textCol: String, indexDir: String,
      snapshot: Option[IndexStore.Snapshot] = None): DataFrame = {
    val spark = docs.sparkSession
    val snap = snapshot.getOrElse(
      IndexStore.resolve(spark, indexDir).getOrElse(
        throw new IllegalArgumentException(
          s"lmPerplexityAgainstStats: no index at $indexDir — build " +
            "one with lmStatsBuild first")))
    val (n, nBuckets) = (snap.prop("n").toInt, snap.prop("n_buckets").toInt)
    // the two reference scalars in the ADDITIVE totals convention
    // (bm25 N/Σdl, dsir totals): nTok sums the per-segment d_ntok
    // deltas — ≤ #segments rows, never a count-table fold. V (live
    // distinct keys) is not additive, so it reads the latest fold
    // boundary's v_live (build/compact counted its own segment) and
    // corrects it from the delta segments SINCE — data bounded by the
    // deltas' keys, with the pre-fold history pruned to those keys'
    // buckets. A freshly-compacted store pays zero correction.
    val totals = IndexStore
      .readTableTagged(spark, indexDir, snap, "totals", "__seg")
      .select("d_ntok", "v_live", "__seg").collect()
    val nTok = totals.map(_.getLong(0)).sum
    val baseRow = totals.filter(!_.isNullAt(1)).maxBy(_.getInt(2))
    val (vBase, baseVer) = (baseRow.getLong(1), baseRow.getInt(2))
    val uniSegs = snap.tables("uni_counts")
    val segsAfter = uniSegs.filter(IndexStore.versionOf(_) > baseVer)
    val v: Long = if (segsAfter.isEmpty) vBase else {
      val deltaUni = segsAfter
        .map(IndexStore.readSegment(spark, indexDir, snap, "uni_counts", _))
        .reduce(_.unionByName(_))
        .groupBy("w").agg(sum("cnt").as("d"), max("bucket").as("bucket"))
        .localCheckpoint(false)
      val touched = deltaUni.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      val baseUni = uniSegs.filter(IndexStore.versionOf(_) <= baseVer)
        .map(IndexStore.readSegment(spark, indexDir, snap, "uni_counts", _))
        .reduce(_.unionByName(_))
        .filter(col("bucket").isin(touched: _*))
        .groupBy("w").agg(sum("cnt").as("o"))
      val net = coalesce(col("o"), lit(0L))
      vBase + deltaUni.join(baseUni, Seq("w"), "left")
        .agg(coalesce(sum(
          when(net + col("d") > 0, 1L).otherwise(0L) -
            when(net > 0, 1L).otherwise(0L)), lit(0L)))
        .head().getLong(0)
    }
    require(v > 0, "lmPerplexityAgainstStats: the store holds no live " +
      "reference tokens (empty or fully-retracted reference)")
    val events = {
      val t = docs.select(
        requireKey(docs, idCol, "lmPerplexityAgainstStats").cast("long")
          .as("did"),
        split(when(col(textCol).isNull, raise_error(lit(
            "lmPerplexityAgainstStats: null text — the doc would " +
              "silently score")))
          .otherwise(col(textCol)), " ").as("ts"))
      if (n == 1) t.select(col("did"), explode(col("ts")).as("w"))
      else t.select(col("did"), explode(expr(
          """CASE WHEN size(ts) >= 2
            |  THEN transform(sequence(1, size(ts) - 1),
            |    i -> struct(ts[i - 1] AS prev, ts[i] AS w))
            |  ELSE array() END""".stripMargin)).as("e"))
        .select(col("did"), col("e.prev"), col("e.w"))
    }
    val pinned = events.localCheckpoint(false)
    def touchedOf(c: Column): Seq[Int] = pinned
      .select(pmod(c, lit(nBuckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    def folded(table: String, touched: Seq[Int], keyCols: Seq[String],
        cntAs: String): DataFrame =
      IndexStore.readTable(spark, indexDir, snap, table)
        .filter(col("bucket").isin(touched: _*))
        .groupBy(keyCols.map(col): _*)
        .agg(sum("cnt").as(cntAs))
        .filter(col(cntAs) > 0)
    val lnp = if (n == 1) {
      val uni = folded("uni_counts", touchedOf(xxhash64(col("w"))),
        Seq("w"), "cu")
      pinned.join(uni, Seq("w"), "left")
        .withColumn("lnp",
          log((coalesce(col("cu"), lit(0L)) + lit(1.0)) /
            lit((nTok + v).toDouble)))
    } else {
      val big = folded("big_counts",
        touchedOf(xxhash64(col("prev"), col("w"))), Seq("prev", "w"), "cb")
      val prevUni = folded("uni_counts", touchedOf(xxhash64(col("prev"))),
          Seq("w"), "cp")
        .withColumnRenamed("w", "prev")
      pinned
        .join(big, Seq("prev", "w"), "left")
        .join(prevUni, Seq("prev"), "left")
        .withColumn("lnp",
          log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
            (coalesce(col("cp"), lit(0L)) + lit(v.toDouble))))
    }
    val scored = lnp.groupBy("did")
      .agg(round(exp(-avg("lnp")), 4).as("ppl"),
        count(lit(1)).cast("int").as("n_events"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(scored, col("doc_id") === col("did"), "left")
      .select(col("doc_id"), col("ppl"),
        coalesce(col("n_events"), lit(0)).as("n_events"))
  }

  /** [[dsirScores]] applied as HARD top-k selection (the paper's top-k
    * ablation; ties to the smaller doc_id on the 4dp-rounded score):
    * the k raw documents most like the target. TakeOrderedAndProject —
    * per-partition partial top-k, a k-row driver merge, then the rank
    * window runs on k rows only. For the paper's SOFT selection —
    * sampling without replacement ∝ exp(score/τ) — compose with
    * [[weightedSample]] on an exp((score − max)/τ) weight column
    * instead (suite-pinned composition); hard top-k IS its τ → 0
    * limit. Emits (doc_id, score, rn). */
  def dsirSelect(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, k: Int, n: Int = 2,
      featureBuckets: Option[Int] = None): DataFrame = {
    require(k >= 1, "k must be positive")
    dsirScores(raw, idCol, textCol, target, targetTextCol, n,
        featureBuckets)
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
      .orderBy("rn")
  }

  /** Temperature (alpha) resampling across strata — the multilingual /
    * multi-source mix rebalance (the XLM-R-style p ∝ n^α draw): stratum
    * s resamples at rate (n_anchor / n_s)^(1−α), so surviving counts are
    * ∝ n_s^α with the anchor stratum kept whole.
    * α = 1 keeps everything (rates 1.0); α = 0 equalizes stratum sizes;
    * α ≈ 0.3–0.7 is the usual dial. Fully deterministic: same corpus ⇒
    * same survivors, and the per-key bucket is key-pure
    * ([[hashSampleByRateCol]]), so when the corpus grows the change in
    * survivors is exactly the change the new RATES imply (each stratum's
    * kept set only shrinks or grows at its rate boundary — a rand()-based
    * resample would reshuffle everything every run). Rates recompute from
    * the current mix by design; pin them with [[hashSampleByRateCol]]
    * directly if a frozen mix matters more than a current one. The
    * stratum-size table is one aggregation; the anchor size rides a
    * scalar subquery and the rates broadcast-join back — zero driver-side
    * jobs. NULL strata fail loudly (a silent default rate would skew the
    * mix).
    *
    * `anchor` picks which stratum stays whole — the down-vs-up dial:
    *  - "min" (default): the smallest stratum anchors at rate 1, every
    *    other stratum DOWN-samples (rates ≤ 1, output rows ⊆ input
    *    rows, schema unchanged).
    *  - "max": the largest stratum anchors at rate 1, smaller strata
    *    UP-sample by repetition — rate r ≥ 1 becomes ⌊r⌋ copies per row
    *    plus one more when the row's key-pure bucket clears the
    *    fractional tail (integral comparison, deterministic and
    *    append-stable like the down path; copies are monotone in the
    *    rate, so per-key copy counts only grow as α shrinks). This is
    *    the multilingual-mix trick of repeating precious small-language
    *    data instead of discarding the big one. The output gains a
    *    `rep` column (0-based copy index) so repeated rows stay
    *    distinguishable; expected stratum sizes are ∝ n^α scaled to
    *    leave the largest stratum unchanged, exact to the integral
    *    threshold granularity (property-pinned). */
  def temperatureResample(df: DataFrame, keyCol: String, strataCol: String,
      alpha: Double, anchor: String = "min"): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0, 1]")
    require(anchor == "min" || anchor == "max",
      s"unknown anchor '$anchor' (expected min | max)")
    val counts = df.groupBy(col(strataCol).as("__stratum"))
      .agg(count(lit(1)).as("__n"))
    val nAnchor = counts.agg(
      if (anchor == "min") min(col("__n")) else max(col("__n"))).scalar()
    val rates = counts.withColumn("__rate",
      pow(nAnchor.cast("double") / col("__n"), lit(1.0 - alpha)))
    val joined = df.join(broadcast(rates),
        df(strataCol) <=> col("__stratum"), "left")
      .withColumn("__rate",
        when(col(strataCol).isNull, raise_error(lit(
          s"temperatureResample: null stratum '$strataCol'")))
          .otherwise(col("__rate")))
    if (anchor == "min")
      hashSampleByRateCol(joined, keyCol, col("__rate"))
        .drop("__stratum", "__n", "__rate")
    else {
      // rate ≥ 1 by construction: ⌊r⌋ whole copies, plus the fractional
      // copy when the same md5 bucket hashSampleByRateCol uses clears
      // the tail threshold — integral comparison, no float ulp at the
      // keep boundary
      val bucket = md5MillionBucket(keyCol)
      val copies = floor(col("__rate")).cast("long") +
        when(bucket < floor((col("__rate") - floor(col("__rate"))) *
          1000000L), 1L).otherwise(0L)
      joined
        .withColumn("__copies",
          when(col(keyCol).isNull, raise_error(lit(
            s"temperatureResample: null sample key '$keyCol'")))
            .otherwise(copies))
        .filter(col("__copies") > 0)
        .withColumn("rep",
          explode(sequence(lit(0L), col("__copies") - 1)))
        .drop("__stratum", "__n", "__rate", "__copies")
    }
  }

  /** Incremental exact dedup AGAINST an existing corpus — the
    * arriving-batch half of the curation lifecycle
    * ([[graft.api.CurationPipeline.curateStream]] dedups WITHIN the
    * stream; this dedups against history): drop every `fresh` row whose
    * content hash already exists in `corpus` (a LEFT ANTI join on the
    * md5 digest — the corpus side reduces to its distinct hash set, AQE
    * broadcasts it when it fits), then keep-best dedup within the batch
    * itself ([[exactDedupRows]]). Emits the surviving fresh rows with all
    * their columns. Re-reads and re-hashes history's TEXT every call —
    * right for one-shot checks against a corpus frame; a pipeline
    * running per-batch should persist history's digests once
    * ([[digestIndexBuild]]) and probe with
    * [[dedupExactAgainstCorpus]], whose per-batch cost the index's
    * touched-bucket pruning bounds. */
  def dedupAgainstCorpus(fresh: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, scoreCol: String): DataFrame = {
    val seen = corpus.select(md5(col(textCol)).as("__seen")).distinct()
    val novel = fresh.join(seen, md5(fresh(textCol)) === col("__seen"),
      "left_anti")
    exactDedupRows(novel, idCol, textCol, scoreCol)
  }

  /** STRATIFIED deterministic hash sample: a per-stratum keep rate
    * (percent of 100) on top of [[hashSample]]'s key-pure bucket — how a
    * curation pipeline rebalances languages/sources/domains while staying
    * reproducible and append-stable (`df.stat.sampleBy` is rand()-based
    * and resamples on every run). `rates` maps stratum value → percent
    * (0..100; 0 drops the stratum, 100 keeps all of it); strata not in
    * `rates` keep `defaultPct`. The rate lookup is a broadcast-free CASE
    * projection and the bucket is a pure expression of `keyCol` — zero
    * shuffle, and the SAME key survives at rate p regardless of which
    * stratum it sits in (bucket < p), so stratum reassignment upstream
    * never resamples a row that both rates keep. NULL keys fail loudly
    * (hashSplit's contract); NULL strata take `defaultPct`. */
  def hashSampleBy(df: DataFrame, keyCol: String, strataCol: String,
      rates: Seq[(String, Int)], defaultPct: Int = 0): DataFrame = {
    require(rates.nonEmpty, "rates must name at least one stratum")
    (defaultPct +: rates.map(_._2)).foreach(p =>
      require(p >= 0 && p <= 100, "rates must be percents in 0..100"))
    val bucket = conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    val pct = rates.foldRight(lit(defaultPct): Column) { case ((v, p), rest) =>
      when(col(strataCol) === v, lit(p)).otherwise(rest)
    }
    df.withColumn("__pct",
      when(col(keyCol).isNull,
        raise_error(lit(s"hashSampleBy: null sample key '$keyCol'")))
        .otherwise(pct))
      .filter(bucket < col("__pct")).drop("__pct")
  }

  /** Audit the difference between two corpus snapshots keyed by `idCol`:
    * emits one row per id whose membership or payload changed —
    * `status` ∈ added (only in `newDf`) / removed (only in `oldDf`) /
    * changed (both sides, payload differs) / unchanged (suppressed
    * unless `includeUnchanged`) — plus each side's payload digest for
    * drill-down. The payload digest is md5 of the JSON of
    * `struct(payloadCols)`, so multi-column payloads, embedded
    * delimiters, and NULL-vs-empty all compare distinctly (a concat_ws
    * digest would conflate NULL with ""). The added + changed rows are
    * exactly the re-ingest batch a crawl refresh feeds to
    * [[CurationPipeline.curateIncremental]]; removed ids are the
    * retention/erasure work-list for the corpus's sinks.
    *
    * Scale shape: each side is reduced to (id, 32-hex digest) BEFORE
    * anything crosses the wire — the full-outer join shuffles ~48 bytes
    * per doc, never the text. The pre-join groupBy(id) leaves each side
    * hash-partitioned on the join key, so the sort-merge join reuses
    * that exchange (no extra shuffle), and the same aggregate doubles as
    * a free uniqueness gate: a duplicate id on either side would
    * silently cross-match every pair in a plain join, so it fails
    * loudly instead (raise_error naming the id), as do null ids. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      payloadCols: Seq[String], includeUnchanged: Boolean = false): DataFrame = {
    require(payloadCols.nonEmpty, "corpusDiff needs at least one payload column")
    def side(df: DataFrame, name: String): DataFrame =
      df.select(
          when(col(idCol).isNull,
            raise_error(lit(s"corpusDiff: null id '$idCol' on $name side")))
            .otherwise(col(idCol)).as(idCol),
          md5(to_json(struct(payloadCols.map(col): _*))).as("__d"))
        .groupBy(idCol)
        .agg(max(col("__d")).as("__d"), count(lit(1)).as("__c"))
        .select(col(idCol).as(s"__${name}_id"),
          when(col("__c") > 1,
            raise_error(concat(lit(s"corpusDiff: duplicate id on $name side: "),
              col(idCol).cast("string"))))
            .otherwise(col("__d")).as(s"${name}_digest"))
    val joined = side(oldDf, "old").join(side(newDf, "new"),
      col("__old_id") === col("__new_id"), "full_outer")
    val status = when(col("old_digest").isNull, lit("added"))
      .when(col("new_digest").isNull, lit("removed"))
      .when(col("old_digest") =!= col("new_digest"), lit("changed"))
      .otherwise(lit("unchanged"))
    val out = joined.select(
      coalesce(col("__old_id"), col("__new_id")).as(idCol),
      status.as("status"), col("old_digest"), col("new_digest"))
    if (includeUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** Deterministic per-epoch shuffle: orders the rows of each
    * `shardCol` partition by md5(seed : shard : keys) and emits the
    * rank as `epoch_pos` (0-based) — the epoch-ordering stage after
    * [[packSequences]]/[[packSequenceRows]] freeze the sequence set. A
    * new `seed` is a fresh pseudo-random permutation of every shard; the
    * same seed reproduces the same order across re-runs, partition
    * layouts, and any md5-speaking engine — which `ORDER BY rand()`
    * cannot promise (its shuffle changes under retries and partition
    * count, so a resumed training job would see a different epoch).
    * Ties (md5 collisions) break on the keys themselves, keeping the
    * order total and deterministic.
    *
    * Scale shape: one shuffle on `shardCol`, then a per-shard sort +
    * row_number — the same single-reducer-per-shard budget as
    * [[packSequences]]; size the shard count to the cluster there and
    * this stage inherits it. A global (unsharded) shuffle would
    * serialize the corpus through one task — that is the design this
    * operator exists to avoid. Null shard or key values fail loudly:
    * concat_ws skips NULLs, so two distinct rows could silently share
    * an ordering key and the permutation would no longer be total. */
  def epochShuffle(df: DataFrame, shardCol: String, keyCols: Seq[String],
      seed: Long): DataFrame = {
    require(keyCols.nonEmpty, "epochShuffle needs at least one key column")
    val reserved = Seq("epoch_pos", "__ek")
    val clash = df.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"epochShuffle emits/uses columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename before shuffling")
    val ordCols = shardCol +: keyCols
    val ek = md5(concat_ws(":",
      (lit(seed).cast("string") +: ordCols.map(c => col(c).cast("string"))): _*))
    // Null guard folded into the key expression itself (the packSequences
    // pattern) so the optimizer cannot prune it as an unused branch.
    val ekGuarded = ordCols.foldRight(ek) { (c, rest) =>
      when(col(c).isNull,
        raise_error(lit(s"epochShuffle: null ordering column '$c'")))
        .otherwise(rest)
    }
    val w = Window.partitionBy(shardCol)
      .orderBy(col("__ek").asc +: keyCols.map(c => col(c).asc): _*)
    df.withColumn("__ek", ekGuarded)
      .withColumn("epoch_pos", (row_number().over(w) - 1).cast("long"))
      .drop("__ek")
  }
}
