package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, parameterized user-portrait operators — the reference's hallmark
  * computations as library functions over caller-supplied frames: rule-driven
  * tag models (rules as DATA, parsed from the reference's `##`/`=` rule
  * strings), RFM-style quintile scoring (exact and approximate), and the
  * BaseModel profile merge + partitioned upsert write path. Same design
  * rules as [[GraftOps]]: deterministic (ntile windows carry the entity key
  * as tiebreaker — ntile is tie-order-sensitive), flat outputs, fixed
  * anchors instead of current_date. */
object PortraitOps {

  // ---------------------------------------------------------------- rules

  /** Parse the reference's rule strings — `##`-separated `k=v` pairs (the
    * 4-level tag metadata format, e.g. `"seg=AUTOMOBILE"` or
    * `"lo=2000##hi=5000"`) — into a `rule_kv` map column. Rules arrive as
    * DATA (any DataFrame with a rule-string column: a JDBC read of the tag
    * metadata table, a CSV, a literal frame), so real tag metadata feeds
    * the same operators the test bindings use. */
  def parseRules(rules: DataFrame, ruleCol: String = "rule"): DataFrame =
    rules.withColumn("rule_kv", str_to_map(col(ruleCol), lit("##"), lit("=")))

  /** Match-type tag model (the Gender/Job shape): rows of `df` whose
    * `attrCol` equals a rule's value for `ruleKey` pick up that rule row's
    * remaining columns (tag id, tag name, …). The rule table is tiny tag
    * metadata — broadcast; the fact side streams. */
  def ruleMatch(df: DataFrame, attrCol: String, ruleKey: String,
      rules: DataFrame, ruleCol: String = "rule"): DataFrame = {
    val parsed = parseRules(rules, ruleCol)
      .withColumn("__match_v", element_at(col("rule_kv"), lit(ruleKey)))
      .filter(col("__match_v").isNotNull)
      .drop("rule_kv", ruleCol)
    df.join(broadcast(parsed), col(attrCol) === col("__match_v"))
      .drop("__match_v")
  }

  /** Band-type tag model (the age-range shape): rules carry `lo`/`hi`
    * bounds (`"lo=0##hi=2000"`); a row matches when
    * `lo <= valCol < hi`. Broadcast band join — the band table is metadata,
    * never the fact side. */
  def rangeBand(df: DataFrame, valCol: String,
      rules: DataFrame, ruleCol: String = "rule"): DataFrame = {
    val parsed = parseRules(rules, ruleCol)
      .withColumn("__lo", element_at(col("rule_kv"), lit("lo")).cast("double"))
      .withColumn("__hi", element_at(col("rule_kv"), lit("hi")).cast("double"))
      .filter(col("__lo").isNotNull && col("__hi").isNotNull)
      .drop("rule_kv", ruleCol)
    df.join(broadcast(parsed),
        col(valCol) >= col("__lo") && col(valCol) < col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Mode tag (most-frequent value, the payment-type model shape): per
    * entity the most frequent `valCol` with (count desc, value asc)
    * tiebreak — two-level aggregation, then a per-entity rank. Emits
    * (keyCol, top_value, cnt). */
  def mostFrequent(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("cnt").desc, col(valCol).asc)
    df.groupBy(keyCol, valCol).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(keyCol), col(valCol).as("top_value"), col("cnt"))
  }

  /** Recency-cycle tag: days from each entity's latest `dateCol` to
    * `anchor` (ISO date literal), banded by ascending (name, maxDays)
    * thresholds with `elseName` past the last. Emits
    * (keyCol, days_since, band). */
  def recencyBands(df: DataFrame, keyCol: String, dateCol: String,
      anchor: String, bands: Seq[(String, Int)], elseName: String): DataFrame = {
    require(bands.nonEmpty && bands.map(_._2) == bands.map(_._2).sorted,
      "bands must be (name, maxDays) in ascending maxDays order")
    val banded = bands.reverse.foldLeft(lit(elseName): Column) {
      case (rest, (nm, hi)) => when(col("days_since") <= hi, nm).otherwise(rest)
    }
    df.groupBy(keyCol)
      .agg(datediff(lit(anchor).cast("date"), max(to_date(col(dateCol))))
        .cast("long").as("days_since"))
      .withColumn("band", banded)
  }

  /** Sequential conversion funnel (the behavior-analysis model shape): for
    * the ordered `steps` values of `typeCol`, each entity's time of the
    * FIRST occurrence of step i STRICTLY AFTER its step i−1 time, plus
    * `level` = how deep the entity converted. k steps cost k (join +
    * min-aggregation) passes, every shuffle on the entity key — no
    * per-entity event collection, no window over the full stream. Emits
    * (keyCol, step0_ts … stepN_ts, level); step times are whatever type
    * `tsCol` is (nulls past the conversion depth). */
  def funnelSteps(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col(keyCol), col(typeCol).as("__t"), col(tsCol).as("__ts"))
    var acc = ev.select(col(keyCol)).distinct()
    steps.zipWithIndex.foreach { case (st, i) =>
      val source =
        if (i == 0) ev.filter(col("__t") === st)
        else ev.filter(col("__t") === st)
          .join(acc.select(col(keyCol), col(s"step${i - 1}_ts")), Seq(keyCol))
          .filter(col("__ts") > col(s"step${i - 1}_ts"))
      acc = acc.join(
        source.groupBy(keyCol).agg(min("__ts").as(s"step${i}_ts")),
        Seq(keyCol), "left")
    }
    acc.withColumn("level",
      steps.indices.map(i => col(s"step${i}_ts").isNotNull.cast("int"))
        .reduce(_ + _))
  }

  /** PSM price-sensitivity model (the reference's hallmark mining tag next
    * to RFM): rolls per-ORDER discount structure up to the entity —
    * tdonr = discounted-order ratio, adar = mean per-order
    * discount-amount ratio, tdar = total-discount ratio (exact: the
    * per-order doubles re-enter DECIMAL so the totals ratio carries no
    * float accumulation error) — sums them into the psm score (4dp) and
    * bands it. `perOrder` must carry one row per (entity, order) with a
    * 0/1 discounted flag, the order's discount amount, and its gross.
    * Bands are ascending (name, upper-bound) pairs; `elseName` past the
    * last. */
  def psmScores(perOrder: DataFrame, keyCol: String, hasDiscCol: String,
      discAmtCol: String, grossCol: String,
      bands: Seq[(String, Double)] = Seq("insensitive" -> 0.9, "low" -> 1.0,
        "mid" -> 1.05, "high" -> 1.1),
      elseName: String = "very_high"): DataFrame = {
    require(bands.nonEmpty && bands.map(_._2) == bands.map(_._2).sorted,
      "bands must be (name, upperBound) in ascending bound order")
    // unscorable entities (null psm — e.g. every order's gross is 0 or
    // null) band as NULL: the fold's else-branch would otherwise label
    // them the TOP band, the worst possible silent default
    val banded = when(col("psm").isNull, lit(null).cast("string"))
      .otherwise(bands.reverse.foldLeft(lit(elseName): Column) {
        case (rest, (nm, hi)) => when(col("psm") < hi, nm).otherwise(rest)
      })
    perOrder.groupBy(keyCol).agg(
        (sum(col(hasDiscCol)) / count(lit(1))).as("tdonr_raw"),
        avg(col(discAmtCol) / col(grossCol)).as("adar_raw"),
        (sum(col(discAmtCol).cast("decimal(18,4)")).cast("double") /
          sum(col(grossCol).cast("decimal(18,2)")).cast("double")).as("tdar_raw"))
      .withColumn("psm",
        round(col("tdonr_raw") + col("adar_raw") + col("tdar_raw"), 4))
      .withColumn("psm_band", banded)
  }

  /** Batch sessionization (lag-gap/cumsum form): events within
    * `gap` of the previous event of the same entity share a session; a
    * larger gap starts a new one. Two window passes over one shuffle on
    * the entity key. `tsCol` must be a numeric time (any unit — `gap` is
    * in the same unit); `tieCol` breaks equal-timestamp ordering. Emits
    * one row per event: (all input columns, session_id) with session ids
    * numbered 1.. per entity. The streaming twin is
    * [[graft.streaming.StreamOps.sessionize]]. */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gap: Long): DataFrame = {
    val wOrd = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev_ts", lag(tsCol, 1).over(wOrd))
      .withColumn("__is_new",
        when(col("__prev_ts").isNull ||
          col(tsCol) - col("__prev_ts") > gap, 1).otherwise(0))
      .withColumn("session_id", sum("__is_new").over(wCum))
      .drop("__prev_ts", "__is_new")
  }

  /** Retention cohorts (the second behavior-analysis staple next to
    * [[funnelSteps]]): entities cohort by their FIRST active day (aligned
    * to `periodDays`-wide periods on the 1970-01-01 epoch grid), and each
    * (cohort, period-offset) cell counts the distinct entities active in
    * that period. Two distinct-aggregations and one broadcast-size join —
    * the cohort table is one row per cohort. Emits (cohort_start, offset,
    * active_users, cohort_size, retention); offset 0 always has
    * retention 1.0. */
  def retentionCohorts(events: DataFrame, keyCol: String, tsCol: String,
      periodDays: Int = 7): DataFrame = {
    require(periodDays >= 1, "periodDays must be positive")
    val perUser = events.groupBy(keyCol)
      .agg(min(to_date(col(tsCol))).as("first_day"))
      .withColumn("cohort_start", date_sub(col("first_day"),
        pmod(datediff(col("first_day"), lit("1970-01-01").cast("date")),
          lit(periodDays)).cast("int")))
      .select(col(keyCol), col("cohort_start"))
    val sizes = perUser.groupBy("cohort_start")
      .agg(countDistinct(keyCol).as("cohort_size"))
    val activity = events.select(col(keyCol), to_date(col(tsCol)).as("day")).distinct()
    activity.join(perUser, Seq(keyCol))
      .withColumn("offset",
        expr(s"datediff(day, cohort_start) div $periodDays").cast("int"))
      .groupBy("cohort_start", "offset")
      .agg(countDistinct(keyCol).as("active_users"))
      .join(broadcast(sizes), Seq("cohort_start"))
      // raw double ratio, NOT rounded: active/size is an exact small-int
      // ratio, and rounding exact ties diverges between HALF_UP and
      // HALF_EVEN engines (Tables.scala parity rules)
      .withColumn("retention",
        col("active_users").cast("double") / col("cohort_size"))
  }

  // -------------------------------------------------------------- scoring

  /** Score metric columns 1–5 by quintile. `specs` rows are
    * (metricCol, scoreCol, higherIsBetter).
    *
    *  - `exact = false` (the DEFAULT — the 100 TB path): quintile
    *    boundaries from one `percentile_approx` pass, then scores are a
    *    pure projection — no global sort, no single-partition stage.
    *    Scores can differ from exact ntile by ±1 near quintile
    *    boundaries — and on HEAVILY TIED metrics the divergence is
    *    structural, not ±1: when several boundaries collapse onto one
    *    repeated value (e.g. a frequency metric where most entities are
    *    1), the strict boundary test can make middle scores unreachable
    *    while exact ntile spreads the ties 1–5 by id. Prefer
    *    `exact = true` for low-cardinality/discrete metrics.
    *  - `exact = true` (the reference/oracle semantics): global `ntile(5)`
    *    with the entity key as tiebreaker — bit-deterministic, but each
    *    window is a single-partition sort of ALL entities. Fine into the
    *    10^8-entity range; opt in when bit-exact quintiles matter more
    *    than the single-reducer sort (the driver's oracle bindings do).
    */
  def quintileScores(base: DataFrame, keyCol: String,
      specs: Seq[(String, String, Boolean)], exact: Boolean = false): DataFrame =
    if (exact) {
      specs.foldLeft(base) { case (df, (metric, score, hib)) =>
        // null metrics sort to the FRONT on both orderings, so an
        // unscorable entity always lands in tile 1 (the worst score) —
        // the desc default (nulls last) would score it 5/best
        val ord = if (hib) col(metric).asc_nulls_first
          else col(metric).desc_nulls_first
        df.withColumn(score,
          ntile(5).over(Window.orderBy(ord, col(keyCol).asc)))
      }
    } else {
      val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
      val aggs = specs.map { case (metric, score, _) =>
        percentile_approx(col(metric), qs, lit(10000)).as(s"__b_$score")
      }
      // the 1-row bounds frame joins as an explicit broadcast cross join —
      // a constant equi-key would be folded away by Catalyst and re-planned
      // as a nested loop anyway, so say what it is
      val bounds = base.agg(aggs.head, aggs.tail: _*)
      val joined = base.crossJoin(broadcast(bounds))
      specs.foldLeft(joined) { case (df, (metric, score, hib)) =>
        val b = col(s"__b_$score")
        def beats(i: Int): Column =
          if (hib) (col(metric) > b(i)).cast("int")
          else (col(metric) < b(i)).cast("int")
        // coalesce: a null metric propagates null through the boundary
        // sums — score it 1 (worst), matching the exact path's
        // nulls-first tile
        df.withColumn(score, coalesce(
          ((0 until 4).map(beats).reduce(_ + _) + lit(1)).cast("int"),
          lit(1)))
      }.drop(specs.map(s => s"__b_${s._2}"): _*)
    }

  /** RFM scoring: per `keyCol` entity compute R = days from last `dateCol`
    * to `anchor` (an ISO date literal), F = row count, M = exact
    * DECIMAL-summed `amountCol`; score each 1–5 by quintile (R inverted:
    * fresher = higher) via [[quintileScores]] — `exact` defaults to the
    * approx-boundary scale path; pass `exact = true` for bit-exact ntiles. */
  def rfmScored(orders: DataFrame, keyCol: String, dateCol: String,
      amountCol: String, anchor: String, exact: Boolean = false): DataFrame = {
    val base = orders.groupBy(keyCol).agg(
      datediff(lit(anchor).cast("date"), max(to_date(col(dateCol))))
        .cast("long").as("r_days"),
      count(lit(1)).as("f"),
      graft.engine.Tables.decSum(col(amountCol)).as("m"))
    quintileScores(base, keyCol, Seq(
      ("r_days", "r_score", false), ("f", "f_score", true),
      ("m", "m_score", true)), exact)
  }

  /** Full RFM model: scores plus the composite 100r+10f+m code and the
    * value-segment banding. */
  def rfm(orders: DataFrame, keyCol: String, dateCol: String,
      amountCol: String, anchor: String, exact: Boolean = false): DataFrame =
    rfmScored(orders, keyCol, dateCol, amountCol, anchor, exact)
      .withColumn("rfm",
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).cast("int"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
          .when(col("r_score") >= 3 && col("f_score") >= 3, "loyal")
          .when(col("r_score") >= 3, "potential")
          .when(col("f_score") >= 3 || col("m_score") >= 3, "at_risk")
          .otherwise("hibernating"))
      .select(col(keyCol), col("r_days"), col("f"), col("m"),
        col("r_score"), col("f_score"), col("m_score"), col("rfm"), col("segment"))
      .orderBy(keyCol)

  // -------------------------------------------------------------- profile

  /** Tag-array merge, array-valued (the reusable core of the BaseModel
    * upsert): full-outer-join old and new per-entity tag arrays, union,
    * dedupe, sort. Idempotent and commutative; null-safe on either side.
    * Both inputs: (`keyCol`, `tagsCol`: array<string>). */
  def profileMergeTags(oldTags: DataFrame, newTags: DataFrame, keyCol: String,
      tagsCol: String = "tags"): DataFrame = {
    val old = oldTags.select(col(keyCol), col(tagsCol).as("__old_tags"))
    val neu = newTags.select(col(keyCol), col(tagsCol).as("__new_tags"))
    neu.join(old, Seq(keyCol), "full")
      .select(col(keyCol),
        array_sort(array_distinct(concat(
          coalesce(col("__old_tags"), array()),
          coalesce(col("__new_tags"), array())))).as(tagsCol))
  }

  /** Profile merge (the reference's BaseModel upsert, compute half):
    * [[profileMergeTags]] emitted as the comma-joined profile string. */
  def profileMerge(oldTags: DataFrame, newTags: DataFrame, keyCol: String,
      tagsCol: String = "tags"): DataFrame =
    profileMergeTags(oldTags, newTags, keyCol, tagsCol)
      .select(col(keyCol), array_join(col(tagsCol), ",").as("profile"))
      .orderBy(keyCol)

  /** Day-over-day profile upsert — the WRITE half of the BaseModel cycle,
    * committed as one [[IndexStore]] version (Delta/Iceberg-style
    * manifest flip: claim → TOCTOU re-check → data jobs → publish; the
    * store's header names the filesystems it is self-contained on — a
    * plain object store without atomic exclusive-create (s3a) needs an
    * external writer lock or an S3-committer-style layer):
    *
    * Layout under `tableDir`:
    *  - `vNNNNN/bucket=<b>/...parquet` — immutable snapshot directories;
    *    version N's dir holds ONLY the buckets that upsert N rewrote.
    *  - `_manifests/` — one IndexStore manifest per version: a
    *    `prop n_buckets <n>` line (the hash layout) and one
    *    `table bucket=<b> <vdir>` line per live bucket, whose single
    *    segment is the version dir that owns the bucket. The LATEST
    *    manifest IS the table; a bucket untouched by an upsert is
    *    re-POINTED at the older version dir that already holds it, never
    *    rewritten.
    *
    * An upsert claims version N+1 — a second concurrent writer fails
    * LOUDLY here ([[ConcurrentIndexWriteException]]), before any data
    * job — merges the incoming tag arrays with the existing rows of ONLY
    * the touched buckets of the base snapshot (the rest of the table is
    * never read), writes the merged buckets to the new immutable
    * `vNNNNN` dir, and publishes the manifest. A reader ([[profileRead]])
    * sees the old snapshot or the new one, never a mix, and old version
    * dirs are immutable until [[profileVacuum]]. Version numbers form an
    * unbroken chain and every upsert merges from its immediate
    * predecessor — no lost updates, by construction. Empty upserts are
    * rejected BEFORE any claim is taken.
    *
    * Crash recovery: a writer that FAILS before publishing releases its
    * claim and drops its partial data dir on the way out. A writer that
    * CRASHES after claiming leaves its claim file, and the next upsert
    * fails loudly naming it; deleting that one file (once the writer is
    * confirmed dead) is all recovery takes — the next claim of the
    * version clears the dead writer's data dir itself.
    *
    * `nBuckets` is fixed at table creation and recorded in every
    * manifest; a call with a different layout fails loudly. Returns the
    * read-back NEW snapshot (keyCol, tagsCol, bucket). */
  def profileUpsert(spark: SparkSession, tableDir: String, newTags: DataFrame,
      keyCol: String, tagsCol: String = "tags", nBuckets: Int = 16): DataFrame = {
    def bucketOf(c: Column): Column = profileBucket(c, nBuckets)
    // Normalize the incoming batch BEFORE anything else: null keys fail
    // loudly (a null can never merge — it would accumulate one orphan
    // row per upsert forever), and in-batch duplicate keys pre-aggregate
    // to one row (the full-outer merge join would otherwise MULTIPLY a
    // duplicated key's rows on every later upsert). The normalized frame
    // has two consumers (the touched-bucket collect and the merge/write
    // job), so it materializes once — lazy local checkpoint, the curate
    // fan-out contract (blocks are not rebuilt on executor loss; the
    // caller retries the upsert).
    val neu = newTags.select(
        when(col(keyCol).isNull, raise_error(lit(
          s"profileUpsert: null profile key '$keyCol'")))
          .otherwise(col(keyCol)).as(keyCol),
        col(tagsCol))
      .groupBy(col(keyCol))
      .agg(array_sort(array_distinct(flatten(collect_list(col(tagsCol)))))
        .as(tagsCol))
      .localCheckpoint(false)
    // touched bucket ids: O(nBuckets) driver-side metadata, like the IVF
    // centroid collects — never O(data). Computed (and the empty-upsert
    // case rejected) BEFORE any claim, so a rejected upsert leaves no
    // claim residue for later writers to trip over.
    val touched = neu.select(bucketOf(col(keyCol)).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    require(touched.nonEmpty, "profileUpsert: empty upsert — nothing to commit")
    val snap = IndexStore.commit(spark, tableDir, "profileUpsert",
        segmentDir = BucketSegment) { (base, vname) =>
      // the manifest records the bucket layout; a mismatched nBuckets would
      // hash keys into the wrong dirs and silently duplicate them
      base.map(_.prop("n_buckets").toInt).foreach(nb =>
        require(nb == nBuckets,
          s"profileUpsert: table $tableDir was created with nBuckets=$nb, " +
            s"called with $nBuckets — the layouts are incompatible"))
      val baseMap = base.map(bucketMap).getOrElse(Map.empty[Int, String])
      val merged =
        if (!baseMap.keySet.exists(touched)) neu // key-unique, sorted, distinct
        else
          profileMergeTags(
            readBuckets(spark, tableDir, base.get, touched).drop("bucket"),
            neu, keyCol, tagsCol)
      merged.withColumn("bucket", bucketOf(col(keyCol)))
        .write.partitionBy("bucket").parquet(s"$tableDir/$vname")
      profileManifest(baseMap ++ touched.map(_ -> vname), nBuckets)
    }
    readBuckets(spark, tableDir, snap)
  }

  /** DELETE profiles (by key) from a [[profileUpsert]] table — the
    * right-to-be-forgotten half of the profile lifecycle, and the
    * profile store's member of the round's erasure family
    * ([[GraftOps.digestIndexRetract]] and twins forget corpus content;
    * this forgets USERS). No tombstones here — the profile store's unit
    * of ownership is the BUCKET (a bucket lives in exactly one version,
    * reads never union), so deletion is its NATIVE shape: rewrite only
    * the touched buckets minus the deleted keys and re-point the rest,
    * exactly an upsert's write pattern. A bucket whose rows all delete
    * leaves the manifest entirely (readers stop visiting it). Deleting
    * keys the table does not hold is a committed NO-OP — no version
    * churn (erasure requests repeat; idempotent by design). Null keys
    * fail loudly (profileUpsert's stance). Same [[IndexStore.commit]]
    * gate as upsert: loud concurrent-writer failure (also when a writer
    * published after this delete read its snapshot), TOCTOU-safe, a
    * crash leaves only a claim file; [[profileVacuum]] then reclaims the
    * superseded versions — after which the deleted rows' BYTES are gone
    * too, completing the erasure (until then they exist only in
    * superseded snapshots, exactly Delta/Iceberg's delete-then-vacuum
    * story). Returns the new snapshot (empty if the table emptied). */
  def profileDelete(spark: SparkSession, tableDir: String, keys: DataFrame,
      keyCol: String, tagsCol: String = "tags"): DataFrame = {
    val snap = IndexStore.resolve(spark, tableDir).getOrElse(
      throw new IllegalStateException(
        s"profileDelete: no committed profile snapshot at $tableDir"))
    val nBuckets = snap.prop("n_buckets").toInt
    val baseMap = bucketMap(snap)
    def bucketOf(c: Column): Column = profileBucket(c, nBuckets)
    val ks = keys.select(
        when(col(keyCol).isNull, raise_error(lit(
          s"profileDelete: null profile key '$keyCol'")))
          .otherwise(col(keyCol)).as(keyCol))
      .distinct().localCheckpoint(false)
    // deleting from an ALREADY-EMPTIED table must stay a no-op — the
    // idempotence contract is exactly for repeated erasure requests
    // (job replay, duplicate ticket), and the retry of a successful
    // full erasure is its most common instance. No live version dir
    // exists to read a schema from, so the empty frame is fabricated:
    // the caller's key type + the store's (tagsCol, bucket) — tagsCol
    // parameterized to match profileUpsert's signature, or a table
    // created with a custom tags column would get a schema-mismatched
    // empty result on this full-erasure retry path
    if (baseMap.isEmpty)
      return ks.limit(0)
        .withColumn(tagsCol, lit(null).cast("array<string>"))
        .withColumn("bucket", lit(null).cast("int"))
    // touched buckets: O(nBuckets) driver metadata (the upsert's
    // budget); buckets the manifest does not hold can hold no key
    val touched = ks.select(bucketOf(col(keyCol)).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet.intersect(baseMap.keySet)
    // the no-op returns read the CURRENT snapshot
    if (touched.isEmpty) return readBuckets(spark, tableDir, snap)
    val existing = readBuckets(spark, tableDir, snap, touched)
    // pinned once: the no-op probe, the per-bucket survivor counts, and
    // the write all read this frame (curate's fan-out contract)
    val remaining = existing.join(ks, Seq(keyCol), "left_anti")
      .localCheckpoint(false)
    if (existing.join(ks, Seq(keyCol), "left_semi").isEmpty)
      return readBuckets(spark, tableDir, snap) // absent — committed no-op
    val live = remaining.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val emptied = touched.filter(b => live.getOrElse(b, 0L) == 0L)
    // an all-keys delete commits an EMPTY snapshot (no bucket table)
    val out = IndexStore.commit(spark, tableDir, "profileDelete",
        allowEmpty = true, segmentDir = BucketSegment) { (base, vname) =>
      // the survivors above derive from `snap`: a writer that published
      // since must fail this delete loudly, not be overwritten by it
      if (!base.exists(_.version == snap.version))
        throw new ConcurrentIndexWriteException(
          s"profileDelete: $tableDir moved past v${snap.version} while " +
            "the delete computed its survivors — rerun against the new " +
            "snapshot")
      remaining.write.partitionBy("bucket").parquet(s"$tableDir/$vname")
      profileManifest(baseMap -- emptied ++ touched.diff(emptied).map(_ -> vname),
        nBuckets)
    }
    if (out.tables.isEmpty) remaining // zero rows, correct schema
    else readBuckets(spark, tableDir, out)
  }

  /** Read the CURRENT committed snapshot of a [[profileUpsert]] table:
    * resolve the latest manifest, then union per-version bucket reads —
    * each carrying a `bucket IN (...)` filter, so partition pruning holds
    * and a bucket is only ever read from the one version dir that owns
    * it. Snapshot-isolated against a concurrent upsert by construction
    * (the manifest is the atomic commit point). */
  def profileRead(spark: SparkSession, tableDir: String): DataFrame =
    readBuckets(spark, tableDir,
      IndexStore.resolve(spark, tableDir).getOrElse(
        throw new IllegalStateException(
          s"profileRead: no committed profile snapshot at $tableDir")))

  /** Drop everything the RETAINED snapshots no longer reference —
    * [[IndexStore.vacuum]] on the profile table: version dirs
    * AT-OR-BELOW the latest version that own no live bucket of a retained
    * snapshot, non-retained superseded manifests, and claim residue at or
    * below the latest. `keepVersions = N` retains the newest N snapshots
    * — the reader-horizon knob: a [[profileRead]] that resolved its
    * snapshot up to N−1 upserts ago still reads consistently after the
    * vacuum; an older reader fails loudly at read time (missing version
    * dir). Versions ABOVE the latest are an in-flight (or crashed)
    * writer's and are left untouched. Returns what it deleted. */
  def profileVacuum(spark: SparkSession, tableDir: String,
      keepVersions: Int = 1): Seq[String] =
    IndexStore.vacuum(spark, tableDir, keepVersions)

  /** The store's key → bucket hash, shared by BOTH mutations: the
    * bucket layout is the correctness-critical invariant (a mismatched
    * hash would make deletes miss rows the upserts placed), so exactly
    * one definition exists. */
  private def profileBucket(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets)).cast("int")

  /** Where a `bucket=<b>` table's segment lives: the whole owning
    * version dir (read with bucket pruning), not its `bucket=<b>`
    * subdir — so the recorded schema carries the `bucket` column. */
  private val BucketSegment: (String, String) => String = (_, v) => v

  /** A profile snapshot's bucket → owning version-dir map: each
    * `bucket=<b>` table has exactly one segment. */
  private def bucketMap(snap: IndexStore.Snapshot): Map[Int, String] =
    snap.tables.map { case (t, segs) => t.stripPrefix("bucket=").toInt -> segs.head }

  /** What a profile commit records: one single-segment table per live
    * bucket, plus the bucket layout. */
  private def profileManifest(buckets: Map[Int, String], nBuckets: Int)
      : (Map[String, Seq[String]], Map[String, String]) =
    (buckets.map { case (b, v) => s"bucket=$b" -> Seq(v) },
      Map("n_buckets" -> nBuckets.toString))

  /** Union of per-version bucket reads over a snapshot's live buckets
    * that `keep` selects, each version dir read with its recorded
    * schema. An EMPTY selection (a [[profileDelete]] erased every
    * profile) fails loudly: with no live version dir there is no
    * schema to produce an empty frame from — drop the table dir, or
    * upsert to restart the chain (the next upsert writes fresh buckets
    * as day 0). */
  private def readBuckets(spark: SparkSession, tableDir: String,
      snap: IndexStore.Snapshot, keep: Int => Boolean = _ => true)
      : DataFrame = {
    val buckets = bucketMap(snap).filter(kv => keep(kv._1))
    if (buckets.isEmpty) throw new IllegalStateException(
      s"profile table $tableDir holds no live buckets (every profile " +
        "was deleted) — drop the table directory, or upsert to restart")
    buckets.groupBy(_._2).toSeq.sortBy(_._1).map { case (vdir, bs) =>
      spark.read.schema(snap.schema(s"bucket=${bs.keys.head}", vdir))
        .parquet(s"$tableDir/$vdir")
        .filter(col("bucket").isin(bs.keys.toSeq: _*))
    }.reduce(_.unionByName(_))
  }
}
