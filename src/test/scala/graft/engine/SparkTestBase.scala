package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + hermetic fixture tables (FIXTURES.md §unit-test
  * guidance: literal 5–10 row tables mirroring the real schemas, written to
  * temp parquet so the (spark, sfDir) query fns run unmodified; never reads
  * /root/testdata). Fixtures include a window tie (orders 20/21), band-edge
  * values (customer balances at 0/2000/5000/8000), exact + near duplicate
  * documents, and an obvious nearest-neighbor embedding pair. */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  /** sfDir-compatible fixture directory, created once per JVM. */
  lazy val fixtureDir: String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture_").toString
    def ts(str: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(str)

    Seq((0, "AMERICA"), (1, "ASIA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((0, "BRAZIL", 0), (1, "CHINA", 1), (2, "JAPAN", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    // band edges: 0 → low, 2000 → mid, 5000 → high, 8000 → top, negative
    Seq(
      (0L, "cust#0", 0, 0.0, "FURNITURE"),
      (1L, "cust#1", 1, 2000.0, "MACHINERY"),
      (2L, "cust#2", 1, 5000.0, "AUTOMOBILE"),
      (3L, "cust#3", 2, 8000.0, "BUILDING"),
      (4L, "cust#4", 2, -10.5, "HOUSEHOLD"),
      (5L, "cust#5", 0, 9000.25, "FURNITURE"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq((0L, "supp#0", 0, 100.0), (1L, "supp#1", 1, -5.25))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    Seq(
      (0L, "azure metal plate", "Brand#1", "TYPEa", 10, 450.0),
      (1L, "burnt steel rod", "Brand#2", "TYPEb", 25, 999.99),
      (2L, "coral brass pin", "Brand#1", "TYPEa", 50, 1500.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    // orders 20/21: same customer, same totalprice → window-tie fixture
    Seq(
      (10L, 0L, "O", 100.00, ts("2001-06-01 00:00:00"), "1-URGENT"),
      (11L, 0L, "F", 250.50, ts("2001-07-15 00:00:00"), "1-URGENT"),
      (20L, 1L, "O", 300.00, ts("2000-01-01 00:00:00"), "5-LOW"),
      (21L, 1L, "O", 300.00, ts("2000-06-01 00:00:00"), "2-HIGH"),
      (22L, 1L, "F", 50.25, ts("1999-01-01 00:00:00"), "2-HIGH"),
      (30L, 2L, "P", 400000.75, ts("1998-01-01 00:00:00"), "3-MEDIUM"),
      (40L, 4L, "O", 120.00, ts("2001-08-01 00:00:00"), "4-NOT SPECIFIED"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq(
      (10L, 0L, 0L, 1, 5.0, 100.00, 0.05, 0.02, "N", "O", ts("2001-06-05 00:00:00")),
      (10L, 1L, 1L, 2, 3.0, 200.00, 0.00, 0.00, "N", "O", ts("2001-06-06 00:00:00")),
      (11L, 2L, 0L, 1, 1.0, 250.50, 0.10, 0.08, "A", "F", ts("2001-07-20 00:00:00")),
      (20L, 0L, 1L, 1, 10.0, 300.00, 0.01, 0.01, "R", "F", ts("2000-01-05 00:00:00")),
      (21L, 1L, 0L, 1, 2.0, 150.00, 0.00, 0.03, "N", "O", ts("2000-06-05 00:00:00")),
      (22L, 2L, 1L, 1, 4.0, 50.25, 0.02, 0.00, "A", "F", ts("1999-01-05 00:00:00")),
      (30L, 0L, 0L, 1, 7.0, 400000.75, 0.05, 0.04, "R", "F", ts("1998-01-10 00:00:00")),
      (40L, 1L, 1L, 1, 1.0, 120.00, 0.00, 0.00, "N", "O", ts("2001-08-02 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    // events.ts as µs TIMESTAMP_NTZ (mirrors the driver testdata's
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) read path).
    // user 1: 3 events, 40-min gap before the third → 2 sessions.
    val t0 = java.time.LocalDateTime.parse("2024-01-01T10:00:00")
    def at(m: Long) = t0.plusMinutes(m)
    Seq(
      (0L, at(0), 1L, "view", 10.0, """{"k": 5}"""),
      (1L, at(10), 1L, "click", 20.5, """{"k": 60}"""),
      (2L, at(50), 1L, "purchase", 99.99, """{"k": 70}"""),
      (3L, at(5), 2L, "view", 1.25, """{"k": 42}"""),
      (4L, at(65), 2L, "error", 0.75, """{"k": 3}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // docs 0/1 exact dups; 2 near-dup of 0 (4/5 shared tokens); 3 distinct
    val d0 = "alpha beta gamma delta epsilon"
    val d2 = "alpha beta gamma delta zeta"
    val docs = Seq(
      (0L, d0, "en", "src0"), (1L, d0, "en", "src1"),
      (2L, d2, "en", "src0"), (3L, "omega psi chi", "de", "src2"))
    docs.map { case (id, t, l, s0) => (id, t, l, s0, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }
}

abstract class SparkTestBase extends AnyFunSuite
    with org.scalatest.concurrent.TimeLimitedTests {
  lazy val spark: SparkSession = SparkTestBase.spark
  lazy val fx: String = SparkTestBase.fixtureDir

  /** `body`'s result and the number of Spark jobs started while it ran
    * — every job on the shared context, which is exact because suites
    * run one at a time. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.GraftTestBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  // Hang insurance, not a performance bound: a one-in-many-runs AQE
  // event-wait wedge was observed parking a trivial one-row parquet
  // write forever (AdaptiveSparkPlanExec.withFinalPlanUpdate blocking
  // on its stage-event queue), which would stall the whole suite — and
  // the round's correctness gate — without ever failing. Ten minutes is
  // ~the FULL suite's runtime and far above any single test's normal
  // cost, so a trip means a genuine wedge; the thread-interrupting
  // signaler converts it into one red test the next run can retry.
  override val timeLimit: org.scalatest.time.Span =
    org.scalatest.time.Span(10, org.scalatest.time.Minutes)
  override val defaultTestSignaler: org.scalatest.concurrent.Signaler =
    org.scalatest.concurrent.ThreadSignaler
}
