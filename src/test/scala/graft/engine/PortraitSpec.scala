package graft.engine

/** SURVEY §5.2.2/3 — user-portrait tag models + seeded property checks
  * (the scalatest↔scalacheck bridge artifact is not on the offline
  * classpath, so properties run as seeded deterministic sweeps). */
class PortraitSpec extends SparkTestBase {

  test("q44 rule match maps every segment to its tag id") {
    val tags = Portrait.q44(spark, fx).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(tags === Map("AUTOMOBILE" -> 101L, "BUILDING" -> 102L,
      "FURNITURE" -> 103L, "HOUSEHOLD" -> 104L, "MACHINERY" -> 105L))
  }

  test("q45 band join is total and exclusive over the fixture customers") {
    val rows = Portrait.q45(spark, fx).collect()
    assert(rows.length === 6) // exactly one band per customer
    assert(rows.map(_.getLong(0)).distinct.length === 6)
  }

  test("q46 mode tag: count tie impossible here; majority priority wins") {
    val top = Portrait.q46(spark, fx).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) === "2-HIGH") // 2×2-HIGH vs 1×5-LOW
    assert(top(0L) === "1-URGENT")
  }

  test("q48 RFM: recency hand-checked, scores span without gaps") {
    val rows = Portrait.q48(spark, fx).collect()
    val byCust = rows.map(r => r.getLong(0) -> r).toMap
    assert(byCust(0L).getLong(1) === 48L) // 2001-07-15 → 2001-09-01
    assert(byCust(1L).getAs[Double]("m") === 650.25)
    rows.foreach { r =>
      assert(r.getInt(4) >= 1 && r.getInt(4) <= 5)
      assert(r.getInt(8 - 1) >= 1) // rfm composite positive
    }
  }

  test("q51 profile merge: customers without orders still get new tags; " +
    "merge is idempotent") {
    val profiles = Portrait.q51(spark, fx).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(profiles(3L) === "bal:top,seg:BUILDING")
    assert(profiles(0L) === "bal:low,prio:1-URGENT,seg:FURNITURE")
    val again = Portrait.q51(spark, fx).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again === profiles)
  }

  test("q52 K-Means: 5 clusters requested, assignment total, tags ranked") {
    val rows = Portrait.q52(spark, fx).collect()
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    rows.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < 5)
      assert(r.getString(2).startsWith("value_"))
    }
  }

  test("property: the wealth banding CASE is total over random balances") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val xs = List.fill(200)((rnd.nextDouble() - 0.5) * 2e6) ++
      List(0.0, 2000.0, 5000.0, 8000.0, -0.0) // band edges
    val bands = xs.toDF("c_acctbal").selectExpr(
      """CASE WHEN c_acctbal < 0 THEN 'negative' WHEN c_acctbal < 2000 THEN 'low'
        |WHEN c_acctbal < 5000 THEN 'mid' WHEN c_acctbal < 8000 THEN 'high'
        |ELSE 'top' END AS band""".stripMargin).collect()
    assert(bands.length == xs.length)
    assert(bands.forall(!_.isNullAt(0))) // totality
  }

  test("property: profile merge is idempotent and commutative (array form)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("a", "b", "c", "d", "e")
    (1 to 25).foreach { _ =>
      val a = List.fill(rnd.nextInt(6))(alphabet(rnd.nextInt(5)))
      val b = List.fill(rnd.nextInt(6))(alphabet(rnd.nextInt(5)))
      def merged(pair: (List[String], List[String])) =
        Seq(pair).toDF("x", "y")
          .selectExpr("array_join(array_sort(array_distinct(concat(x, y))), ',')")
          .collect()(0).getString(0)
      val ab = merged((a, b))
      assert(ab === merged((b, a))) // commutative
      assert(ab === merged((a ++ b, a))) // idempotent: re-merge of subset
    }
  }

  test("parseRules/ruleMatch/rangeBand: ##/= rule strings drive the tag joins") {
    val s = spark
    import s.implicits._
    val rules = Seq((1L, "job=teacher##lvl=5"), (2L, "job=doctor"))
      .toDF("tag_id", "rule")
    val people = Seq((10L, "teacher"), (11L, "doctor"), (12L, "farmer"))
      .toDF("id", "job")
    val tagged = graft.api.PortraitOps.ruleMatch(people, "job", "job", rules)
      .select("id", "tag_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tagged === Set((10L, 1L), (11L, 2L))) // farmer matches no rule
    val bands = Seq(("low", "lo=0##hi=10"), ("high", "lo=10##hi=100"),
      ("junk", "nope")).toDF("band", "rule")
    val vals = Seq((1L, 5.0), (2L, 10.0), (3L, 99.9), (4L, -1.0)).toDF("id", "v")
    val banded = graft.api.PortraitOps.rangeBand(vals, "v", bands)
      .select("id", "band").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // -1 is below every band; the malformed rule is filtered, not matched
    assert(banded === Set((1L, "low"), (2L, "high"), (3L, "high")))
  }

  test("q44/q45 rebinding through the rule parser left outputs unchanged") {
    val q44 = Portrait.q44(spark, fx).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(q44.map(_._3).toSet === Set(101L, 102L, 103L, 104L, 105L))
    val q45 = Portrait.q45(spark, fx).collect()
    assert(q45.length === 6 && q45.map(_.getLong(0)).distinct.length === 6)
  }

  test("profileUpsert: partitioned write cycle merges only affected keys") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_")
      .toString + "/t"
    val day0 = Seq((1L, Seq("a")), (2L, Seq("b")), (3L, Seq("c"))).toDF("k", "tags")
    graft.api.PortraitOps.profileUpsert(spark, dir, day0, "k", nBuckets = 4)
    val day1 = Seq((2L, Seq("b2")), (4L, Seq("d"))).toDF("k", "tags")
    val out = graft.api.PortraitOps.profileUpsert(spark, dir, day1, "k", nBuckets = 4)
      .select("k", "tags").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out === Map(1L -> List("a"), 2L -> List("b", "b2"),
      3L -> List("c"), 4L -> List("d")))
    // third upsert with the same delta is a no-op (idempotent)
    val again = graft.api.PortraitOps.profileUpsert(spark, dir, day1, "k", nBuckets = 4)
      .select("k", "tags").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(again === out)
  }

  test("profileDelete: forgets exactly the named users (touched-bucket " +
    "rewrite), absent keys are a committed no-op, re-upsert starts " +
    "fresh, vacuum completes the erasure, an emptied table reads empty") {
    val s = spark
    import s.implicits._
    import graft.api.PortraitOps
    val dir = java.nio.file.Files.createTempDirectory("graft_pdel_")
      .toString + "/t"
    val day0 = Seq((1L, Seq("a")), (2L, Seq("b")), (3L, Seq("c")),
      (4L, Seq("d"))).toDF("k", "tags")
    PortraitOps.profileUpsert(s, dir, day0, "k", nBuckets = 4)
    def snap() = PortraitOps.profileRead(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    // the erasure request: users 2 and 9 (9 never existed — requests
    // repeat and over-approximate; must not fail or churn versions)
    val out = PortraitOps.profileDelete(s, dir,
        Seq(2L, 9L).toDF("k"), "k").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out === Map(1L -> List("a"), 3L -> List("c"), 4L -> List("d")))
    assert(snap() === out)
    // all-absent delete: no version churn (idempotent erasure)
    val vBefore = new java.io.File(s"$dir/_manifests").list()
      .count(_.endsWith(".manifest"))
    assert(PortraitOps.profileDelete(s, dir, Seq(2L, 9L).toDF("k"), "k")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
    assert(new java.io.File(s"$dir/_manifests").list()
      .count(_.endsWith(".manifest")) === vBefore,
      "an all-absent delete commits nothing")
    // a re-upserted deleted user starts FRESH (no ghost tags)
    PortraitOps.profileUpsert(s, dir, Seq((2L, Seq("z"))).toDF("k", "tags"),
      "k", nBuckets = 4)
    assert(snap()(2L) === List("z"))
    // null keys fail loudly
    val e = intercept[Exception] {
      PortraitOps.profileDelete(s, dir,
        Seq[Option[Long]](None).toDF("k"), "k").collect()
    }
    assert(e.getMessage.contains("profileDelete") ||
      Option(e.getCause).exists(_.getMessage.contains("profileDelete")))
    // vacuum completes the erasure: the superseded snapshots holding
    // the deleted rows' bytes are reclaimed
    PortraitOps.profileVacuum(s, dir)
    assert(snap() === Map(1L -> List("a"), 2L -> List("z"),
      3L -> List("c"), 4L -> List("d")))
    // deleting everything: the returned frame is empty (correct
    // schema), and a subsequent read fails LOUDLY naming the state —
    // an all-profiles erasure is table deletion, and with no live
    // version dir there is no schema to fabricate an empty read from
    assert(PortraitOps.profileDelete(s, dir,
      Seq(1L, 2L, 3L, 4L).toDF("k"), "k").collect().isEmpty)
    val e2 = intercept[IllegalStateException] {
      PortraitOps.profileRead(s, dir)
    }
    assert(e2.getMessage.contains("no live buckets"))
    // the RETRY of a successful full erasure (job replay, duplicate
    // ticket — the exact repetition the idempotence contract is for)
    // must stay a no-op, not crash on the emptied table
    val retry = PortraitOps.profileDelete(s, dir,
      Seq(1L, 2L, 3L, 4L).toDF("k"), "k")
    assert(retry.collect().isEmpty &&
      retry.columns.toSeq === Seq("k", "tags", "bucket"))
    // ...and an upsert restarts the chain as day 0
    PortraitOps.profileUpsert(s, dir, Seq((7L, Seq("n"))).toDF("k", "tags"),
      "k", nBuckets = 4)
    assert(snap() === Map(7L -> List("n")))
  }

  test("profileUpsert snapshots: untouched buckets re-point, readers are " +
    "isolated mid-upsert, a concurrent writer fails loudly, vacuum drops " +
    "superseded versions") {
    val s = spark
    import s.implicits._
    import graft.api.PortraitOps
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_")
      .toString + "/t"
    def snapshot() = PortraitOps.profileRead(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    // keys 1..40 spread over 8 buckets; day 1 touches ONLY key 1's bucket
    val day0 = (1L to 40L).map(k => (k, Seq(s"t$k"))).toDF("k", "tags")
    PortraitOps.profileUpsert(s, dir, day0, "k", nBuckets = 8)
    val v1 = snapshot()
    PortraitOps.profileUpsert(s, dir, Seq((1L, Seq("x"))).toDF("k", "tags"),
      "k", nBuckets = 8)
    assert(snapshot() === v1 + (1L -> List("t1", "x")))
    // v00002 holds ONLY the touched bucket; the other 7 re-point at v00001
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    def bucketDirs(v: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$v"))
        .map(_.getPath.getName).filter(_.startsWith("bucket=")).sorted.toSeq
    assert(bucketDirs("v00002").length === 1)
    assert(bucketDirs("v00001").length === 8)
    // READER ISOLATION: simulate an in-flight upsert — claim + data dir
    // present, manifest NOT yet published — the read must still serve the
    // v2 snapshot untouched
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_manifests/v00003.CLAIM"), false).close()
    Seq((2L, Seq("half"))).toDF("k", "tags")
      .withColumn("bucket", org.apache.spark.sql.functions.lit(0))
      .write.partitionBy("bucket").parquet(s"$dir/v00003")
    assert(snapshot() === v1 + (1L -> List("t1", "x")),
      "a reader overlapping an uncommitted upsert must see the old snapshot")
    // CONCURRENT WRITER: the claim is held -> a second upsert fails loudly
    // and leaves the table unchanged
    val boom = intercept[graft.api.ConcurrentIndexWriteException] {
      PortraitOps.profileUpsert(s, dir, Seq((3L, Seq("y"))).toDF("k", "tags"),
        "k", nBuckets = 8)
    }
    assert(boom.getMessage.contains("v00003"))
    assert(snapshot() === v1 + (1L -> List("t1", "x")))
    // winner releases: drop the residue, rerun -> succeeds as v00003
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00003.CLAIM"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v00003"), true)
    PortraitOps.profileUpsert(s, dir, Seq((3L, Seq("y"))).toDF("k", "tags"),
      "k", nBuckets = 8)
    assert(snapshot() === v1 + (1L -> List("t1", "x")) + (3L -> List("t3", "y")))
    // VACUUM: v00002's only bucket was superseded by v00003 iff key 3
    // hashes to key 1's bucket — regardless, old manifests go and every
    // surviving version dir is still referenced; the snapshot is unchanged
    val before = snapshot()
    PortraitOps.profileVacuum(s, dir)
    assert(snapshot() === before)
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$dir/_manifests")).map(_.getPath.getName).sorted.toSeq
    assert(manifests === Seq("v00003.manifest"))
  }

  test("profileVacuum keepVersions: a reader pinned two upserts back " +
    "survives keepVersions = 3 and fails loudly under the default 1") {
    val s = spark
    import s.implicits._
    import graft.api.PortraitOps
    val dir = java.nio.file.Files.createTempDirectory("graft_pkeep_")
      .toString + "/t"
    def up(tag: String) = PortraitOps.profileUpsert(s, dir,
      (1L to 8L).map(k => (k, Seq(tag))).toDF("k", "tags"), "k",
      nBuckets = 4)
    up("a") // v1: every bucket lives in v1
    up("b") // v2: every bucket re-pointed to v2
    val pinned = PortraitOps.profileRead(s, dir) // a reader holds v2's map
    up("c") // v3
    up("d") // v4 — the reader is now two upserts back
    PortraitOps.profileVacuum(s, dir, keepVersions = 3)
    assert(pinned.count() === 8L,
      "a reader inside the keepVersions horizon keeps reading its snapshot")
    PortraitOps.profileVacuum(s, dir)
    intercept[Exception] { pinned.count() } // outside the horizon: loud
    assert(PortraitOps.profileRead(s, dir).count() === 8L,
      "the latest snapshot is never touched")
    intercept[IllegalArgumentException] {
      PortraitOps.profileVacuum(s, dir, keepVersions = 0)
    }
  }

  test("profileUpsert/vacuum lifecycle guards: empty upsert rejected " +
    "claim-free, a failed writer cleans up after itself, vacuum spares " +
    "in-flight versions above the latest manifest") {
    val s = spark
    import s.implicits._
    import graft.api.PortraitOps
    val dir = java.nio.file.Files.createTempDirectory("graft_guard_")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    // EMPTY upsert: loud failure BEFORE any claim — no residue, chain
    // still writable afterwards
    intercept[IllegalArgumentException] {
      PortraitOps.profileUpsert(s, dir,
        Seq.empty[(Long, Seq[String])].toDF("k", "tags"), "k", nBuckets = 4)
    }
    assert(!exists(s"$dir/_manifests/v00001.CLAIM"),
      "a rejected empty upsert must not leave claim residue")
    PortraitOps.profileUpsert(s, dir, Seq((1L, Seq("a"))).toDF("k", "tags"),
      "k", nBuckets = 4)
    // FAILED writer (tags column is not an array — analysis fails after
    // the claim): releases its claim and partial data on the way out, so
    // a corrected retry commits the same version number with no manual
    // residue cleanup
    intercept[Exception] {
      PortraitOps.profileUpsert(s, dir,
        Seq((1L, "not-an-array")).toDF("k", "tags"), "k", nBuckets = 4)
    }
    assert(!exists(s"$dir/_manifests/v00002.CLAIM"),
      "a failed writer must release its claim")
    assert(!exists(s"$dir/v00002"),
      "a failed writer must drop its partial data dir")
    // VACUUM vs IN-FLIGHT writer: claim + data dir for the next version
    // present, manifest not yet published — vacuum must leave BOTH alone
    // (deleting the data dir mid-write would corrupt the writer's commit)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/_manifests/v00002.CLAIM"), false).close()
    Seq((9L, Seq("z"))).toDF("k", "tags")
      .withColumn("bucket", org.apache.spark.sql.functions.lit(1))
      .write.partitionBy("bucket").parquet(s"$dir/v00002")
    val gone = PortraitOps.profileVacuum(s, dir)
    assert(exists(s"$dir/v00002"),
      "vacuum must not delete an in-flight writer's data dir")
    assert(exists(s"$dir/_manifests/v00002.CLAIM"),
      "vacuum must not delete an in-flight writer's claim")
    assert(!gone.exists(_.contains("v00002")))
    // the in-flight writer crashes; deleting its CLAIM file is the whole
    // manual cleanup (its data dir stays behind), then a real commit
    // lands as v00002 and the snapshot is exactly the two keys
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/_manifests/v00002.CLAIM"), false)
    PortraitOps.profileUpsert(s, dir, Seq((2L, Seq("b"))).toDF("k", "tags"),
      "k", nBuckets = 4)
    val out = PortraitOps.profileRead(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(out === Map(1L -> List("a"), 2L -> List("b")))
  }

  test("profileUpsert input normalization: in-batch duplicate keys " +
    "pre-merge to one row, a mismatched nBuckets fails loudly, null keys " +
    "fail loudly") {
    val s = spark
    import s.implicits._
    import graft.api.PortraitOps
    val dir = java.nio.file.Files.createTempDirectory("graft_norm_")
      .toString + "/t"
    // duplicate key in ONE batch: must land as a single merged row and
    // stay single through the next merge cycle (the full-outer join
    // would otherwise multiply it every upsert)
    PortraitOps.profileUpsert(s, dir,
      Seq((1L, Seq("a")), (1L, Seq("b")), (2L, Seq("x"))).toDF("k", "tags"),
      "k", nBuckets = 4)
    def rows() = PortraitOps.profileRead(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList)
    assert(rows().sortBy(_._1).toList ===
      List(1L -> List("a", "b"), 2L -> List("x")))
    PortraitOps.profileUpsert(s, dir,
      Seq((1L, Seq("c")), (1L, Seq("a"))).toDF("k", "tags"),
      "k", nBuckets = 4)
    assert(rows().sortBy(_._1).toList ===
      List(1L -> List("a", "b", "c"), 2L -> List("x")),
      "the duplicated key must stay one row across cycles")
    // a different nBuckets than the recorded layout is a loud failure,
    // not silent key duplication across incompatible bucket dirs
    val e = intercept[IllegalArgumentException] {
      PortraitOps.profileUpsert(s, dir, Seq((3L, Seq("y"))).toDF("k", "tags"),
        "k", nBuckets = 8)
    }
    assert(e.getMessage.contains("nBuckets=4"))
    // null keys fail loudly (they could never merge — one orphan row per
    // upsert forever otherwise)
    intercept[Exception] {
      PortraitOps.profileUpsert(s, dir,
        Seq((java.lang.Long.valueOf(5L), Seq("z")),
          (null.asInstanceOf[java.lang.Long], Seq("n")))
          .toDF("k", "tags"), "k", nBuckets = 4)
    }
  }

  test("profileUpsert race: two threads upserting concurrently — one wins " +
    "the version claim, the loser fails loudly and retries cleanly; no " +
    "tag is lost or duplicated (the local-fs O_EXCL claim gate)") {
    val s = spark
    import s.implicits._
    import graft.api.{ConcurrentIndexWriteException, PortraitOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_prace_")
      .toString + "/t"
    PortraitOps.profileUpsert(s, dir, Seq((0L, Seq("seed"))).toDF("k", "tags"),
      "k", nBuckets = 4)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to 3) {
        val gate = new CountDownLatch(1)
        val fs = (0 to 1).map { t =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.await()
              try {
                PortraitOps.profileUpsert(s, dir,
                  Seq((round.toLong, Seq(s"r$round-t$t"))).toDF("k", "tags"),
                  "k", nBuckets = 4)
                true
              } catch {
                case _: ConcurrentIndexWriteException => false
              }
            }
          })
        }
        gate.countDown()
        val ok = fs.map(_.get(120, TimeUnit.SECONDS))
        assert(ok.contains(true), s"round $round: at least one upsert wins")
        // losers rerun after the winner, per the exception's contract
        ok.zipWithIndex.filter(!_._1).foreach { case (_, t) =>
          PortraitOps.profileUpsert(s, dir,
            Seq((round.toLong, Seq(s"r$round-t$t"))).toDF("k", "tags"),
            "k", nBuckets = 4)
        }
      }
    } finally pool.shutdown()
    val got = PortraitOps.profileRead(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(got === Map(
      0L -> List("seed"),
      1L -> List("r1-t0", "r1-t1"),
      2L -> List("r2-t0", "r2-t1"),
      3L -> List("r3-t0", "r3-t1")),
      "every thread's tags must merge exactly once, races notwithstanding")
  }

  test("q84 upsert cycle converges to the q51 merge") {
    val a = Portrait.q51(spark, fx).collect().map(_.toString).toSeq
    val b = Portrait.q84(spark, fx).collect().map(_.toString).toSeq
    assert(b === a)
  }

  test("rfmScoredApprox: approx-percentile scores track exact ntile within 1") {
    // generate a 200-customer orders table (deterministic), write to temp
    // parquet, and compare the two scoring paths
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val dir = java.nio.file.Files.createTempDirectory("graft_rfm_").toString
    val rows = (0L until 200L).flatMap { c =>
      (0 until 1 + rnd.nextInt(10)).map { i =>
        (c * 100 + i, c, "O",
          math.rint(rnd.nextDouble() * 10000) / 100.0 + 10.0,
          java.sql.Timestamp.valueOf(
            f"2001-${1 + rnd.nextInt(7)}%02d-${1 + rnd.nextInt(28)}%02d 00:00:00"),
          "1-URGENT")
      }
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority").write.parquet(s"$dir/orders.parquet")
    val exact = Portrait.rfmScored(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    val approx = Portrait.rfmScoredApprox(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    assert(exact.keySet === approx.keySet)
    val deviations = exact.keys.toSeq.map { k =>
      val (er, ef, em) = exact(k); val (ar, af, am) = approx(k)
      math.max(math.max((er - ar).abs, (ef - af).abs), (em - am).abs)
    }
    assert(deviations.max <= 1,
      s"approx scores must stay within 1 of exact ntile (max=${deviations.max})")
    assert(deviations.count(_ == 0).toDouble / deviations.size >= 0.5)
  }
}
