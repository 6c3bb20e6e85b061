package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned-snapshot store shared by the persistent index families
  * (fingerprint / SRP / IVF / ...) and the profile store: one
  * table→segment-list map per version, so that APPEND stays cheap (a
  * new version adds segment directories; nothing old is rewritten)
  * while COMPACT and REBUILD swap whole tables atomically.
  *
  * The profile store ([[PortraitOps.profileUpsert]]) is a client like
  * any index family: each live hash bucket is a table `bucket=<b>`
  * whose single segment is the version dir that owns the bucket (an
  * upsert re-points untouched buckets; reads never union), and the
  * bucket layout rides as the `n_buckets` prop. This module alone owns
  * the manifest format and the commit protocol, so a protocol fix lands
  * once for every client. Self-contained on any Hadoop filesystem with
  * atomic exclusive-create and `rename` (HDFS, ABFS; on `file:` the
  * claim goes through NIO O_EXCL because Hadoop's LocalFileSystem fakes
  * exclusive create as check-then-act — see [[exclusiveCreate]]); a
  * plain object store without atomic exclusive-create needs an external
  * writer lock.
  *
  * Layout under an index directory:
  *  - `vNNNNN/<table>/...parquet` — immutable segment directories;
  *    version N's dir holds only the tables (or table deltas) commit
  *    N wrote.
  *  - `_manifests/vNNNNN.manifest` — the commit record: a `version`
  *    header; a `chain <uuid>` line naming the version chain (drawn
  *    by the first commit into an empty dir, inherited by every later
  *    one — a dir deleted and rebuilt restarts at v00001 under a NEW
  *    chain, so (chain, version) identifies one commit and
  *    (chain, vdir) one segment, the keys of every metadata memo);
  *    `prop <key> <value>` lines — the client's LAYOUT (bucket count,
  *    sketch shape, encoding stamp: `k`, `n_buckets`, `n_hashes`,
  *    `bands`, `dim`, `n_bits`, `seed`, `bloom_fpp`, `m`, `ksub`,
  *    `enc`, `seq_len`, `n_shards`, `n`, `feature_buckets`,
  *    `num_features`, `end_of_word`), written by the build and carried
  *    by every later commit, plus the replay watermark; keys are
  *    whitespace-free and values percent-encoded (UTF-8, space as
  *    `%20`), so any string round-trips and a number reads as itself;
  *    one `schema <id> <json>` line per DISTINCT segment read
  *    schema (Spark's StructType JSON, exactly what
  *    `spark.read.parquet(segment).schema` infers: partition columns
  *    last); and one `table <name> <vdir>:<id> ...` line per table
  *    listing the segment dirs that compose it, oldest first, each with
  *    its schema id. Reads pass the recorded schema (`.schema(...)`),
  *    so no read of a committed table runs Spark's one-task
  *    schema-inference job. The LATEST manifest IS the index.
  *  - `_manifests/vNNNNN.CLAIM` — a writer's exclusive version claim.
  *
  * A commit: (1) resolves the latest manifest, (2) CLAIMS version
  * N+1 by exclusive create — a second concurrent writer fails LOUDLY
  * here ([[ConcurrentIndexWriteException]]), before any Spark job
  * runs — (3) re-verifies the chain still ends at N (the TOCTOU
  * re-check: a racer can claim, commit AND release between our resolve
  * and our claim), (4) runs the writer's data jobs into the immutable
  * `vNNNNN/` dir, and (5) PUBLISHES by
  * renaming the manifest into place — one atomic metadata operation.
  * A reader resolving concurrently sees the old snapshot or the new
  * one, never a mix: segment dirs land fully before the manifest
  * appears and stay immutable until [[vacuum]]. A search that
  * resolved its snapshot before an append/compact published keeps
  * reading complete, consistent tables to the end of its job.
  *
  * Failure story: a writer that FAILS
  * before publishing deletes its partial data dir and releases its
  * claim on the way out; a writer that CRASHES leaves `vNNNNN.CLAIM`
  * residue, and the next writer fails loudly naming the file (delete
  * it once the writer is confirmed dead — its unreferenced data dir,
  * if any, is cleared automatically by the next successful claim of
  * that version). Version numbers form an unbroken chain; every
  * commit derives from its immediate predecessor — no lost updates by
  * construction.
  *
  * Index lifecycle: builds (and the profile store, and
  * [[GraftOps.packIndexAppend]], whose replay re-derives offsets from
  * a past snapshot) call [[commit]] directly. Every other mutation
  * goes through one of two bodies, both on [[commitWithRetry]]:
  * [[GraftOps.deltaCommit]] (append/retract: replay gate, empty-batch
  * no-op, each written table gains the new segment, watermark props)
  * and [[GraftOps.compactCommit]] (each rewritten table becomes the
  * single new segment; every other table is carried forward
  * unchanged, except `tombstones`, which the compact folds and drops;
  * props carry forward). */
private[graft] object IndexStore {

  /** One committed snapshot of the index at `dir`: manifest version,
    * commit properties (the client's layout and the curateIncremental
    * replay watermark), table → owning segment version-dirs, oldest
    * first, each (table, vdir) segment's recorded read schema, and the
    * version chain's identity. */
  final case class Snapshot(version: Int, props: Map[String, String],
      tables: Map[String, Seq[String]],
      schemas: Map[(String, String), StructType], chain: String,
      dir: String) {
    /** A layout prop the client's build records, failing loudly when
      * the manifest lacks it. */
    def prop(key: String): String =
      props.getOrElse(key, throw new IllegalStateException(
        s"index at $dir: manifest v$version records no '$key' prop — it " +
          "predates the manifest-recorded index layout; rebuild the index"))

    /** The recorded read schema of `table`'s segment `vdir`. */
    def schema(table: String, vdir: String): StructType =
      schemas.getOrElse((table, vdir), throw new IllegalStateException(
        s"manifest v$version records no schema for segment $vdir of " +
          s"table '$table'"))
  }

  /** The latest committed snapshot, or None when `indexDir` holds no
    * published manifest (no index). */
  def resolve(spark: SparkSession, indexDir: String): Option[Snapshot] = {
    val dir = new org.apache.hadoop.fs.Path(manifestDir(indexDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val manifests = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.matches("v\\d{5,}\\.manifest"))
    if (manifests.isEmpty) None
    else Some(readManifest(fs, manifests.maxBy(p => versionOf(p.getName)),
      indexDir))
  }

  /** The snapshot a SPECIFIC manifest version committed — the replay
    * path's time travel (resolve the pre-append snapshot a recorded
    * `last_batch_base` names). None when that manifest no longer
    * exists (vacuumed, or never published). */
  def resolveAt(spark: SparkSession, indexDir: String,
      version: Int): Option[Snapshot] = {
    val p = new org.apache.hadoop.fs.Path(
      f"${manifestDir(indexDir)}/v$version%05d.manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(readManifest(fs, p, indexDir)) else None
  }

  /** Read one logical table of a snapshot: the union of its segment
    * reads (a single-segment table reads plain — the common built-once
    * case keeps its unchanged scan plan). Filters a caller applies on
    * top push through the union into every segment scan, so partition
    * pruning (IVF's `bucket IN (probed)`) holds per segment. */
  def readTable(spark: SparkSession, indexDir: String, snap: Snapshot,
      table: String): DataFrame =
    segmentsOf(indexDir, snap, table)
      .map(readSegment(spark, indexDir, snap, table, _))
      .reduce(_.unionByName(_))

  /** One segment of a snapshot's table, read with its recorded schema. */
  def readSegment(spark: SparkSession, indexDir: String, snap: Snapshot,
      table: String, vdir: String): DataFrame =
    spark.read.schema(snap.schema(table, vdir))
      .parquet(s"$indexDir/$vdir/$table")

  private def segmentsOf(indexDir: String, snap: Snapshot,
      table: String): Seq[String] =
    snap.tables.getOrElse(table, throw new IllegalStateException(
      s"index at $indexDir: manifest v${snap.version} records no table " +
        s"'$table' — the directory does not hold this kind of index"))

  /** [[readTable]] with every row tagged (`segCol`, int) by the
    * manifest version of the segment it lives in — the SEQUENCE NUMBER
    * the retraction family's merge-on-read subtraction compares: a
    * tombstone written at version T kills equal-keyed rows from
    * segments ≤ T only, so a row RE-appended after the retraction
    * (segment > T) is live again (Iceberg's equality-delete sequencing,
    * on this store's version chain). The tag is a per-segment literal —
    * caller filters on data columns still push into every segment scan
    * unchanged. */
  def readTableTagged(spark: SparkSession, indexDir: String, snap: Snapshot,
      table: String, segCol: String): DataFrame =
    segmentsOf(indexDir, snap, table)
      .map(v => readSegment(spark, indexDir, snap, table, v)
        .withColumn(segCol, org.apache.spark.sql.functions.lit(versionOf(v))))
      .reduce(_.unionByName(_))

  /** A parquet dir read with the schema [[inferSchema]] derives — for a
    * segment a commit wrote but has not yet recorded (a build reading
    * back its own fresh table). */
  def readWritten(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(inferSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path).schema` infers, WITHOUT the
    * one-task Spark job that inference runs: the data columns come from
    * one data file's footer (the Spark schema every parquet write
    * stamps there — the same single footer Spark's non-merging
    * inference reads), and the partition columns (`k=v` dirs, types
    * inferred, appended last) from the driver-side listing of a read
    * pinned to those data columns. Fails loudly on a dir holding no
    * data file — the case `spark.read.parquet` itself cannot infer. */
  private def inferSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    // Spark's hidden-file rule: `_`/`.` names are metadata, except a
    // `_`-named partition dir (`_k=v`)
    def visible(n: String) =
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith("."))
    def firstFile(dir: org.apache.hadoop.fs.Path)
        : Option[org.apache.hadoop.fs.FileStatus] = {
      val (dirs, files) = fs.listStatus(dir)
        .filter(st => visible(st.getPath.getName)).sortBy(_.getPath.getName)
        .partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstFile(d.getPath))
        .nextOption())
    }
    val file = firstFile(root).getOrElse(throw new IllegalStateException(
      s"$path holds no parquet data file — there is no schema to record"))
    import org.apache.spark.sql.execution.datasources.parquet._
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    val data = ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get))
    spark.read.schema(data).parquet(path).schema
  }

  /** Commit one new version. `write` receives the base snapshot (None
    * on a fresh dir) and the claimed version-dir name; it runs the
    * data jobs into `indexDir/<vname>/<table>` and returns the NEW
    * complete (tables, props) to record. Claim precedes all data
    * work; publish is one manifest rename. A commit that records no
    * table fails unless `allowEmpty` (a profile table whose every
    * bucket was deleted is an empty snapshot; an index never is).
    * `segmentDir(table, vdir)` is where a segment lives under
    * `indexDir` — `vdir/table` for the index families; the profile
    * store's bucket tables all live in their owning `vdir`. Every
    * segment's read schema is recorded in the manifest: carried from
    * the base snapshot, or derived from the files for a fresh one. */
  def commit(spark: SparkSession, indexDir: String, op: String,
      allowEmpty: Boolean = false,
      segmentDir: (String, String) => String = (t, v) => s"$v/$t")(
      write: (Option[Snapshot], String) =>
        (Map[String, Seq[String]], Map[String, String])): Snapshot = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(manifestDir(indexDir)))
    val base = resolve(spark, indexDir)
    val next = base.map(_.version).getOrElse(0) + 1
    val vname = f"v$next%05d"
    val claim = new org.apache.hadoop.fs.Path(
      s"${manifestDir(indexDir)}/$vname.CLAIM")
    try exclusiveCreate(fs, claim)
    catch { case e: java.io.IOException =>
      throw new ConcurrentIndexWriteException(
        s"$op: version $vname of index $indexDir is already claimed " +
          s"($claim exists) — another writer is in flight, or a crashed " +
          "writer left residue (delete the CLAIM file once you have " +
          s"confirmed it is dead). Underlying: ${e.getMessage}")
    }
    var published = false
    var wroteData = false
    try {
      // TOCTOU re-check: a racer may have claimed, COMMITTED and
      // released this very version between our resolve and our claim
      // create — verify the chain still ends at next-1.
      if (resolve(spark, indexDir).map(_.version).getOrElse(0) != next - 1)
        throw new ConcurrentIndexWriteException(
          s"$op: version $vname of index $indexDir was published by a " +
            "concurrent writer between manifest resolve and claim — " +
            "rerun against the new snapshot")
      // a data dir at OUR claimed version with no manifest is a crashed
      // writer's residue (vacuum cannot reach above the latest manifest):
      // clear it now, or the fresh write would die on 'path already
      // exists' — we hold the claim, so the dir can belong to no one else
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/$vname"), true)
      wroteData = true
      val (tables, props) = write(base, vname)
      require(allowEmpty || tables.nonEmpty, s"$op: commit records no tables")
      props.foreach { case (k, v) =>
        require(k.nonEmpty && v.nonEmpty && !k.exists(_.isWhitespace),
          s"$op: manifest props need a whitespace-free key and a " +
            s"non-empty value (got '$k' -> '$v')")
      }
      // a segment the base already recorded keeps its schema; a fresh
      // one (or one re-pointed under another table) derives it here,
      // once per segment dir
      val derived = scala.collection.mutable.Map.empty[String, StructType]
      val schemas = tables.toSeq.flatMap { case (t, segs) =>
        segs.map(sv => (t, sv) ->
          base.flatMap(_.schemas.get((t, sv))).getOrElse(
            derived.getOrElseUpdate(segmentDir(t, sv),
              inferSchema(spark, s"$indexDir/${segmentDir(t, sv)}"))))
      }.toMap
      val chain = base.map(_.chain)
        .getOrElse(java.util.UUID.randomUUID().toString)
      val snap = Snapshot(next, props, tables, schemas, chain, indexDir)
      val body = manifestText(snap)
      val tmp = new org.apache.hadoop.fs.Path(
        s"${manifestDir(indexDir)}/.$vname.manifest.tmp")
      val out = fs.create(tmp, true)
      out.write(body.getBytes("UTF-8"))
      out.close()
      val fin = new org.apache.hadoop.fs.Path(
        s"${manifestDir(indexDir)}/$vname.manifest")
      if (!fs.rename(tmp, fin))
        throw new ConcurrentIndexWriteException(s"$op: failed to publish $fin")
      published = true
      fs.delete(claim, false)
      snap
    } finally if (!published) {
      // failed before publish: nothing WE wrote is referenced — drop our
      // partial data dir (never a racer's: wroteData guards the TOCTOU
      // path, where $vname's data belongs to the committed winner) and
      // release the claim so the chain stays writable
      if (wroteData)
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/$vname"), true)
      fs.delete(claim, false)
    }
  }

  /** Drop everything the RETAINED snapshots no longer reference.
    * Retained, by construction:
    *  - the newest `keepVersions` published manifests (the latest
    *    always; `keepVersions = 3` lets a reader still holding a
    *    snapshot up to two versions old survive the vacuum — the
    *    reader-horizon knob, convention upgraded to mechanism);
    *  - UNCONDITIONALLY, the manifest the latest snapshot's
    *    `last_batch_base` watermark names, plus every segment it
    *    references — so a cron'd vacuum can never strand a
    *    foreachBatch crash-replay: the replay path's time-travel
    *    record ([[GraftOps.replayBase]]) survives ANY vacuum timing
    *    by construction, not by the operator keeping vacuums out of
    *    the replay window. (A later batch's append re-points the
    *    watermark, releasing the old base to the next vacuum — a
    *    foreachBatch engine only ever replays the LAST committed
    *    batch.)
    * Deleted: version dirs at-or-below the latest version owning no
    * segment of a retained snapshot, manifests below the latest that
    * are not retained, and CLAIM residue at-or-below the latest.
    * Versions ABOVE the latest belong to an in-flight (or crashed)
    * writer and are untouched. Readers holding snapshots older than
    * the retention horizon fail loudly at read time (missing segment
    * path) — size `keepVersions` to the longest reader you allow.
    * Returns what it deleted. */
  def vacuum(spark: SparkSession, indexDir: String,
      keepVersions: Int = 1): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    val snap = resolve(spark, indexDir).getOrElse(return Nil)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = fs.listStatus(
        new org.apache.hadoop.fs.Path(manifestDir(indexDir)))
      .map(_.getPath.getName).filter(_.matches("v\\d{5,}\\.manifest"))
      .map(versionOf).sorted.reverse.toSeq
    val kept = published.take(keepVersions).toSet ++
      snap.props.get("last_batch_base").map(_.toInt)
    val live = kept.toSeq.flatMap(v => resolveAt(spark, indexDir, v))
      .flatMap(_.tables.values.flatten).toSet
    val gone = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(new org.apache.hadoop.fs.Path(indexDir)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.matches("v\\d{5,}") && !live(n) &&
          versionOf(n) <= snap.version) {
        fs.delete(st.getPath, true); gone += n
      }
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(manifestDir(indexDir)))
      .foreach { st =>
        val n = st.getPath.getName
        val stale =
          (n.endsWith(".manifest") && versionOf(n) < snap.version &&
            !kept(versionOf(n))) ||
            (n.endsWith(".CLAIM") && versionOf(n) <= snap.version)
        if (stale) { fs.delete(st.getPath, false); gone += n }
      }
    gone.toSeq
  }

  /** [[commit]] wrapped in the bounded resolve→recompute→recommit loop
    * a LOSING concurrent writer needs — the turn-key multi-writer entry
    * point. Each attempt is a FULL fresh commit: `write` receives the
    * NEW base snapshot the winner published, so the caller's data jobs
    * recompute against it (the callback must therefore derive
    * everything from its `(base, vname)` arguments — the append
    * family's callbacks already do). Backoff between attempts is
    * exponential with full jitter, so two symmetric losers don't
    * re-collide in lockstep. After `maxAttempts` losses the last
    * [[ConcurrentIndexWriteException]] rethrows — which is also the
    * crashed-writer story: CLAIM residue never clears itself, so retry
    * spins through its attempts and then surfaces the residue's loud,
    * file-naming error unchanged. Defaults size the total backoff
    * (~5 s across 6 attempts) to outlast a small-batch commit's claim
    * hold — the claim is held for the DURATION of the winner's data
    * jobs, so callers whose commits run minutes should raise
    * `baseBackoffMs`/`maxAttempts` to match. */
  def commitWithRetry(spark: SparkSession, indexDir: String, op: String,
      maxAttempts: Int = 6, baseBackoffMs: Long = 200L)(
      write: (Option[Snapshot], String) =>
        (Map[String, Seq[String]], Map[String, String])): Snapshot = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1 (got $maxAttempts)")
    var attempt = 1
    while (attempt < maxAttempts) {
      try return commit(spark, indexDir, op)(write)
      catch { case _: ConcurrentIndexWriteException =>
        val cap = baseBackoffMs << math.min(attempt - 1, 6)
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(cap / 2 + 1, cap + 1))
        attempt += 1
      }
    }
    commit(spark, indexDir, op)(write) // last attempt: losses rethrow
  }

  /** Atomic exclusive create of the claim file. Hadoop's
    * LocalFileSystem implements `create(path, overwrite = false)` as
    * CHECK-THEN-ACT (exists() then create) — two same-JVM writers racing
    * a claim can BOTH pass the check, collide in one `_temporary` dir,
    * and corrupt each other's write (caught by the suite's two-thread
    * race test). On `file:` filesystems the claim therefore goes through
    * NIO's `Files.createFile` — true O_EXCL, throws
    * FileAlreadyExistsException (an IOException, so the caller's loud
    * claim-failure path is unchanged). HDFS/ABFS create IS atomic at the
    * namenode and keeps the plain Hadoop call. Every writer on this
    * store — index families and the profile store alike — claims
    * through [[commit]], so this is the one claim path. */
  private def exclusiveCreate(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      java.nio.file.Files.createFile(local)
      ()
    } else fs.create(p, false).close()

  private def manifestDir(indexDir: String): String = s"$indexDir/_manifests"

  private[api] def versionOf(name: String): Int =
    name.stripPrefix("v").takeWhile(_.isDigit).toInt

  /** The manifest body: each distinct schema written once, numbered in
    * order of first use by the (sorted) table lines. */
  private def manifestText(snap: Snapshot): String = {
    val tables = snap.tables.toSeq.sortBy(_._1)
    val ids = tables.flatMap { case (t, segs) => segs.map(sv => snap.schemas((t, sv))) }
      .distinct.zipWithIndex.toMap
    s"version ${snap.version}\nchain ${snap.chain}\n" +
      snap.props.toSeq.sorted.map { case (k, v) =>
        s"prop $k ${java.net.URLEncoder.encode(v, "UTF-8").replace("+", "%20")}\n"
      }.mkString +
      ids.toSeq.sortBy(_._2).map { case (s, i) => s"schema $i ${s.json}\n" }
        .mkString +
      tables.map { case (t, segs) =>
        s"table $t ${segs.map(sv => s"$sv:${ids(snap.schemas((t, sv)))}")
          .mkString(" ")}\n"
      }.mkString
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, indexDir: String): Snapshot = {
    val in = fs.open(path)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    def field(kind: String): Seq[Array[String]] =
      lines.tail.filter(_.startsWith(s"$kind ")).map(_.split(" ", 3))
    val ver = lines.head.split(" ")(1).toInt
    val chain = field("chain").headOption.map(_(1)).getOrElse(
      throw new IllegalStateException(s"$path predates the schema-recording " +
        "manifest format (no chain line) — rebuild the index"))
    val props = field("prop").map { case Array(_, k, v) =>
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
    val schemaById = field("schema").map { case Array(_, i, json) =>
      i -> DataType.fromJson(json).asInstanceOf[StructType]
    }.toMap
    val segs = lines.tail.filter(_.startsWith("table ")).map { l =>
      val parts = l.split(" ").toSeq
      parts(1) -> parts.drop(2).map { seg =>
        val Array(sv, i) = seg.split(":", 2); sv -> schemaById(i)
      }
    }
    Snapshot(ver, props, segs.map { case (t, ss) => t -> ss.map(_._1) }.toMap,
      segs.flatMap { case (t, ss) => ss.map { case (sv, s) => (t, sv) -> s } }
        .toMap, chain, indexDir)
  }
}

/** An [[IndexStore.commit]] lost the exclusive version claim: a
  * concurrent writer is in flight (or a crashed one left CLAIM
  * residue). The losing commit has run no data job — rerun it after
  * the winner publishes. */
final class ConcurrentIndexWriteException(msg: String)
  extends RuntimeException(msg)
