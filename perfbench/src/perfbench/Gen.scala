package perfbench

/** Seeded input generators of the workloads. Every value is a pure
  * function of (seed, coordinates): a day assignment, a document or a
  * vector comes out identical however many other inputs were generated
  * before it, so the benchmark can generate lazily, step by step, and a
  * seed always names the same inputs. */
object Gen {

  // ------------------------------------------------------------ hashing

  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A 64-bit key for a coordinate tuple under `seed`. */
  def key(seed: Long, parts: Long*): Long =
    parts.foldLeft(splitmix(seed))((h, p) => splitmix(h ^ p))

  def rng(seed: Long, parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(key(seed, parts: _*))

  /** Uniform double in [0, 1) for a coordinate tuple. */
  def unit(seed: Long, parts: Long*): Double =
    (key(seed, parts: _*) >>> 11) * (1.0 / (1L << 53))

  private val Tag = Map("day" -> 2L, "doc" -> 5L, "plant" -> 6L,
    "vec" -> 7L, "center" -> 8L, "batch" -> 9L, "query" -> 10L,
    "repeat" -> 11L)
  private def t(name: String): Long = Tag(name)

  // ------------------------------------------------------ user portraits

  /** Customers of the sf0.1 star schema (keys 0 until `SfCustomers`). */
  val SfCustomers = 15000
  /** Nightly batches the sf0.1 customers are spread over. */
  val Days = 30

  /** Which day each sf0.1 customer's orders and events land in: a seeded
    * permutation of the customers cut into `Days` equal runs, so every day
    * touches the same number of customers. Index = customer key. */
  def dayOf(seed: Long): Array[Int] = {
    val r = rng(seed, t("day"))
    val perm = Array.tabulate(SfCustomers)(identity)
    (SfCustomers - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val x = perm(i); perm(i) = perm(j); perm(j) = x
    }
    val day = new Array[Int](SfCustomers)
    perm.indices.foreach(k => day(perm(k)) = k * Days / SfCustomers)
    day
  }

  // ---------------------------------------------------------- documents

  final case class Doc(doc_id: Long, text: String, score: Double)

  val VocabSize = 60000
  private val Zipf = 1.05
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, Zipf))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val Onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l",
    "m", "n", "p", "r", "s", "t", "v", "w", "z", "st", "tr", "pl", "gr")
  private val Nuclei = Array("a", "e", "i", "o", "u", "ai", "ou", "ie")

  /** The word of Zipf rank `rank`: a pronounceable, rank-unique string. */
  def word(rank: Int): String = {
    val sb = new StringBuilder
    var r = rank
    do {
      sb.append(Onsets(r % Onsets.length))
      r /= Onsets.length
      sb.append(Nuclei(r % Nuclei.length))
      r /= Nuclei.length
    } while (r > 0)
    sb.toString
  }

  private def zipfRank(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  private val Pii = Array(
    (r: java.util.SplittableRandom) => s"${word(r.nextInt(500))}${r.nextInt(999)}@example.com",
    (r: java.util.SplittableRandom) => s"+1555${1000000 + r.nextInt(8999999)}",
    (r: java.util.SplittableRandom) =>
      s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}")

  /** A natural document: Zipf tokens (so the vocabulary grows by Heaps'
    * law with corpus size), 30–80 words, 5% carrying one PII token. */
  def naturalText(seed: Long, id: Long): String = {
    val r = rng(seed, t("doc"), id)
    val n = 30 + r.nextInt(51)
    val ws = Array.fill(n)(word(zipfRank(r)))
    if (r.nextDouble() < 0.05) ws(r.nextInt(n)) = Pii(r.nextInt(3))(r)
    ws.mkString(" ")
  }

  /** A repetitive low-quality document: a short phrase looped — fails the
    * repetition gate. */
  def lowQualityText(seed: Long, id: Long): String = {
    val r = rng(seed, t("doc"), id)
    val phrase = Seq.fill(3)(word(r.nextInt(2000)))
    Seq.fill(10 + r.nextInt(10))(phrase).flatten.mkString(" ")
  }

  /** `text` with `k` distinct positions replaced by rare words: token-set
    * and word-3-gram Jaccard to the original both stay ≥ 0.8 for the
    * 30+-word documents this is applied to. */
  def nearCopy(seed: Long, id: Long, text: String, k: Int = 1): String = {
    val r = rng(seed, t("plant"), id)
    val ws = text.split(" ")
    val pos = new scala.util.Random(r.nextLong()).shuffle(ws.indices.toList)
      .take(k)
    pos.foreach(p => ws(p) = word(VocabSize + 1000 + r.nextInt(1000000)))
    ws.mkString(" ")
  }

  // ---------------------------------------------- ingest beside search

  final case class Vec(vec_id: Long, embedding: Seq[Float])
  final case class Query(qid: Long, terms: Seq[String])

  val Dim = 64
  val Centers = 24
  private def normalize(v: Array[Double]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat).toSeq
  }
  private def gaussian(r: java.util.SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }
  private def center(seed: Long, c: Int): Array[Double] = {
    val r = rng(seed, t("center"), c)
    Array.fill(Dim)(gaussian(r))
  }

  /** The R^64 unit embedding of document `id`: a noisy copy of one of
    * `Centers` cluster centres, so the IVF lists are meaningful. */
  def vector(seed: Long, id: Long): Seq[Float] = {
    val r = rng(seed, t("vec"), id)
    val c = center(seed, r.nextInt(Centers))
    normalize(c.map(x => x + 0.9 * gaussian(r)))
  }

  /** A small perturbation of `v` (a near-duplicate's or a query's
    * embedding). */
  def jitter(seed: Long, id: Long, v: Seq[Float], eps: Double): Seq[Float] = {
    val r = rng(seed, t("vec"), id, 1)
    normalize(v.map(x => x + eps * gaussian(r)).toArray)
  }

  final case class IngestBatch(docs: IndexedSeq[Doc], vecs: IndexedSeq[Vec],
      plantedDups: Set[Long])

  val HistoryDocs = 2000
  val BatchDocs = 100

  /** History for `index_ingest_search`: a plain corpus (no planted groups
    * inside history) with one vector per document. */
  def history(seed: Long): (IndexedSeq[Doc], IndexedSeq[Vec]) = {
    val docs = (0 until HistoryDocs).map { i =>
      Doc(i, naturalText(seed, i), unit(seed, t("doc"), i, 1)) }
    (docs, docs.map(d => Vec(d.doc_id, vector(seed, d.doc_id))))
  }

  /** Ingest batch `b`: fresh documents plus planted exact and near copies
    * of history documents (the crawl-refresh re-ingest) and low-quality
    * documents. Ids grow with `b`, the order curateIncremental expects. */
  def ingestBatch(seed: Long, b: Int): IngestBatch = {
    val base = HistoryDocs.toLong + b.toLong * BatchDocs
    val planted = scala.collection.mutable.Set.empty[Long]
    val rows = (0 until BatchDocs).map { i =>
      val id = base + i
      val u = unit(seed, t("batch"), id)
      val src = rng(seed, t("batch"), id, 1).nextInt(HistoryDocs).toLong
      if (u < 0.08) {
        planted += id
        (Doc(id, naturalText(seed, src), 0.5), vector(seed, src))
      } else if (u < 0.16) {
        planted += id
        (Doc(id, nearCopy(seed, id, naturalText(seed, src)), 0.5),
          jitter(seed, id, vector(seed, src), 0.02))
      } else if (u < 0.19)
        (Doc(id, lowQualityText(seed, id), 0.5), vector(seed, id))
      else (Doc(id, naturalText(seed, id), 0.5), vector(seed, id))
    }
    IngestBatch(rows.map(_._1), rows.map { case (d, v) => Vec(d.doc_id, v) },
      planted.toSet)
  }

  /** The most frequent words, which queries leave out as stopwords. */
  private lazy val stopwords: Set[String] = (0 until 50).map(word).toSet

  /** Hybrid query `j`: four distinct non-stopword terms of a history
    * document and an embedding near that document's. Fixed-size,
    * stopword-free queries keep the posting-list volume a query reads from
    * varying much with the seed. */
  def query(seed: Long, j: Long): (Query, Vec) = {
    val qid = 1000000000L + j
    val r = rng(seed, t("query"), qid)
    val src = r.nextInt(HistoryDocs).toLong
    val ws = naturalText(seed, src).split(" ").distinct.filterNot(stopwords)
    val terms = new scala.util.Random(r.nextLong()).shuffle(ws.toSeq).take(4)
    (Query(qid, terms), Vec(qid, jitter(seed, qid, vector(seed, src), 0.3)))
  }

  /** Which of a batch's `fresh` queries repeat `r` re-sends. */
  def repeatOf(seed: Long, b: Int, r: Int, fresh: Int): Int =
    rng(seed, t("repeat"), b, r).nextInt(fresh)

  // ---------------------------------------------------------- digests

  /** SHA-256 of a canonical rendering of `workload`'s seeded inputs for
    * `seed` (the day assignment; or set-up inputs plus the first steps and
    * queries): equal seeds must give equal digests, different seeds
    * different ones. */
  def digest(workload: String, seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(x: Any): Unit = md.update((x.toString + "\n").getBytes("UTF-8"))
    workload match {
      case "portrait_daily" => dayOf(seed).foreach(put)
      case "index_ingest_search" =>
        val (h, v) = history(seed); h.foreach(put); v.foreach(put)
        (0 until 3).foreach { b =>
          val ib = ingestBatch(seed, b); ib.docs.foreach(put); ib.vecs.foreach(put)
          (0 until 4).foreach(r => put(repeatOf(seed, b, r, 8)))
        }
        (0 until 24).foreach { j =>
          val (q, qv) = query(seed, j); put(q); put(qv) }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
