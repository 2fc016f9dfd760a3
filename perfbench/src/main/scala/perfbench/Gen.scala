package perfbench

/**
 * Seeded, stateless input formulas. Every generated value is a pure
 * function of (seed, stream, index), so the same seed gives the same
 * inputs and the benchmark can recompute any expected answer without
 * reading what the engine wrote.
 */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) ^ mix(i))

  /** Uniform in [0, n). */
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)

  /** A seeded pseudo-random stream for the operation mix. */
  final class Rng(seed: Long, stream: Long) {
    private var i = 0L
    def nextLong(): Long = { i += 1; hash(seed, stream, i) }
    def below(n: Long): Long = Gen.below(nextLong(), n)
    def unit(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  }

  val Words: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
      "bar", "den", "fal", "gor", "hin", "jus", "kel", "mon", "pra", "qui",
      "ster", "tor", "ulm", "vex", "wyn")
    for (a <- syl; b <- syl; c <- Seq("", "n", "s", "ta", "rel"))
      yield a + b + c
  }.toIndexedSeq

  // ---------------------------------------------------------------- lake

  /** One `lineitem`-shaped row. Rows are clustered on `orderkey`
    * (four lines per order, ids in order); `partkey` is a seeded
    * permutation of the row id, doubled so that odd keys inside the
    * key range are absent. */
  final case class LakeRow(l_orderkey: Long, l_linenumber: Int,
      l_partkey: Long, l_suppkey: Int, l_quantity: Int,
      l_price_cents: Long, l_discount: Int, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.sql.Date, l_comment: String)

  final class Lake(val seed: Long, val logRows: Int) extends Serializable {
    val rows: Long = 1L << logRows
    private val mask = rows - 1
    // odd multiplier ⇒ bijection on [0, 2^logRows)
    private val a: Long = hash(seed, 100, 0) | 1L
    private val b: Long = hash(seed, 101, 0) & mask
    private val aInv: Long = {
      var x = a // Newton iteration for the inverse mod 2^64
      (0 until 6).foreach(_ => x *= 2 - a * x)
      x
    }
    def orderkey(id: Long): Long = id / 4
    def quantity(id: Long): Int = 1 + below(hash(seed, 2, id), 50).toInt
    def priceCents(id: Long): Long = 100 + below(hash(seed, 3, id), 9999900)
    def returnflag(id: Long): String = Seq("A", "N", "R")(below(hash(seed, 4, id), 3).toInt)
    def linestatus(id: Long): String = if ((hash(seed, 5, id) & 1) == 0) "O" else "F"
    def partkey(id: Long): Long = 2 * ((a * id + b) & mask)
    /** Row id holding `partkey`, or None for keys that are absent. */
    def idOfPartkey(pk: Long): Option[Long] =
      if (pk < 0 || (pk & 1) == 1 || pk / 2 > mask) None
      else Some(((pk / 2 - b) * aInv) & mask)
    def row(id: Long): LakeRow = {
      val h = hash(seed, 6, id)
      LakeRow(orderkey(id), (id % 4).toInt + 1, partkey(id),
        below(hash(seed, 1, id), 10000).toInt, quantity(id), priceCents(id),
        below(h, 11).toInt, returnflag(id), linestatus(id),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          8000 + below(h >>> 8, 2500))),
        Seq.tabulate(3)(k => Words(below(hash(seed, 7 + k, id),
          Words.size).toInt)).mkString(" "))
    }
    def maxOrderkey: Long = orderkey(rows - 1)

    /** (count, sum quantity, sum price cents) over ids in [lo, hi). */
    def rangeAgg(lo: Long, hi: Long): (Long, Long, Long) = {
      var q = 0L; var p = 0L; var id = lo
      while (id < hi) { q += quantity(id); p += priceCents(id); id += 1 }
      (hi - lo, q, p)
    }

    /** Expected `GROUP BY returnflag, linestatus` answer:
      * key → (count, sum quantity, sum price cents). */
    @transient lazy val groupAgg: Map[(String, String), (Long, Long, Long)] = {
      val acc = scala.collection.mutable.Map[(String, String), Array[Long]]()
      var id = 0L
      while (id < rows) {
        val a = acc.getOrElseUpdate((returnflag(id), linestatus(id)),
          new Array[Long](3))
        a(0) += 1; a(1) += quantity(id); a(2) += priceCents(id)
        id += 1
      }
      acc.map { case (k, v) => k -> ((v(0), v(1), v(2))) }.toMap
    }
  }

  // -------------------------------------------------------------- ingest

  final case class IngestRow(id: Long, user_id: Long, kind: String,
      amount_cents: Long, ts: java.sql.Timestamp, note: String)

  val Kinds: IndexedSeq[String] =
    IndexedSeq("view", "click", "cart", "purchase", "refund")

  /** Row `i` of ingest batch `batch`. */
  def ingestRow(seed: Long, batch: Long, i: Long): IngestRow = {
    val id = batch * 10000000L + i
    val h = hash(seed, 20, id)
    IngestRow(id, below(h, 100000), Kinds(below(h >>> 20, 5).toInt),
      below(hash(seed, 21, id), 1000000),
      new java.sql.Timestamp(1700000000000L + below(h >>> 3, 86400000L) * 1000L),
      Words(below(hash(seed, 22, id), Words.size).toInt))
  }

  /** (count, sum id, sum user_id, sum amount_cents) of a batch. */
  def ingestChecksum(seed: Long, batch: Long, n: Int): Checksum = {
    var s = Checksum.Zero
    var i = 0L
    while (i < n) {
      val r = ingestRow(seed, batch, i)
      s = s.add(r.id, r.user_id, r.amount_cents)
      i += 1
    }
    s
  }

  final case class Checksum(rows: Long, a: Long, b: Long, c: Long) {
    def add(x: Long, y: Long, z: Long): Checksum =
      Checksum(rows + 1, a + x, b + y, c + z)
    def +(o: Checksum): Checksum =
      Checksum(rows + o.rows, a + o.a, b + o.b, c + o.c)
  }
  object Checksum { val Zero: Checksum = Checksum(0, 0, 0, 0) }

  /** NDJSON line `i` of JSON batch `batch`, covering the inference
    * lattice: integers that widen to bigint, decimal-looking numbers,
    * timestamp strings, a nested struct and an array. */
  def jsonLine(seed: Long, batch: Long, i: Long): String = {
    val id = batch * 10000000L + i
    val h = hash(seed, 30, id)
    // one line in eight carries an id beyond the int range
    val big = if (below(h, 8) == 0) id + 5000000000L else id
    val qty = below(h >>> 8, 1000)
    val cents = below(hash(seed, 31, id), 100000)
    val ts = java.time.Instant.ofEpochSecond(1700000000L + below(h >>> 16, 8640000L))
    val tier = Seq("gold", "silver", "bronze")(below(h >>> 40, 3).toInt)
    val w = Words(below(hash(seed, 32, id), Words.size).toInt)
    f"""{"id":$big,"qty":$qty,"price":${cents / 100}.${cents % 100}%02d,"ts":"$ts","user":{"uid":${below(h >>> 24, 50000)},"tier":"$tier"},"tags":["$w","$tier"]}"""
  }

  /** (count, sum id, sum qty, sum price cents) of a JSON batch. */
  def jsonChecksum(seed: Long, batch: Long, n: Int): Checksum = {
    var s = Checksum.Zero
    var i = 0L
    while (i < n) {
      val id = batch * 10000000L + i
      val h = hash(seed, 30, id)
      val big = if (below(h, 8) == 0) id + 5000000000L else id
      s = s.add(big, below(h >>> 8, 1000), below(hash(seed, 31, id), 100000))
      i += 1
    }
    s
  }

  // ---------------------------------------------------------------- acid

  /** An `orders`-shaped payload row. */
  final case class Order(cust: Long, priceCents: Long, status: String)

  def order(seed: Long, key: Long, version: Long): Order = {
    val h = hash(seed, 40 + version, key)
    Order(below(h, 150000), 100 + below(h >>> 17, 50000000),
      Seq("O", "F", "P")(below(h >>> 50, 3).toInt))
  }

  // -------------------------------------------------------------- corpus

  /** A generated document and its injected ground truth. `dupOf` is the
    * doc this one is an exact copy of, `nearOf` the doc it is a small
    * edit of, and `lowQuality` marks degenerate repeated-token text. */
  final case class Doc(id: Long, text: String, dupOf: Option[Long],
      nearOf: Option[Long], lowQuality: Boolean)

  private val Stop = IndexedSeq("the", "a", "of", "and", "to", "in", "is")

  /** Clean text: ~80 tokens, one in five a stopword, the rest content
    * words drawn from [[Words]]. */
  def cleanText(seed: Long, key: Long): String = {
    val n = 70 + below(hash(seed, 50, key), 20).toInt
    (0 until n).map { j =>
      val h = hash(seed, 51 + j, key)
      if (below(h, 5) == 0) Stop(below(h >>> 8, Stop.size).toInt)
      else Words(below(h >>> 16, Words.size).toInt)
    }.mkString(" ")
  }

  /** A near-duplicate of `text`: four tokens replaced. */
  def nearEdit(seed: Long, key: Long, text: String): String = {
    val toks = text.split(" ")
    (0 until 4).foreach { j =>
      val h = hash(seed, 60 + j, key)
      toks(below(h, toks.length).toInt) =
        Words(below(h >>> 20, Words.size).toInt) + "x"
    }
    toks.mkString(" ")
  }

  /** The corpus: doc ids 1..n. Ids divisible by 50 are the held-out
    * evaluation slice the curation pipeline decontaminates against;
    * they are always fresh clean documents. Of the rest, a seeded
    * share are exact copies or near-duplicates of an earlier training
    * doc, or low-quality. */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val docs = new Array[Doc](n)
    var i = 0
    while (i < n) {
      val id = (i + 1).toLong
      val h = hash(seed, 70, id)
      val r = below(h, 100)
      // an earlier training document to copy from (never an eval doc)
      def earlier(): Option[Doc] = {
        if (i < 10) None
        else {
          var k = below(h >>> 8, i.toLong).toInt
          while (k > 0 && (docs(k).id % 50 == 0 || docs(k).lowQuality ||
            docs(k).dupOf.nonEmpty)) k -= 1
          if (docs(k).id % 50 == 0 || docs(k).lowQuality ||
            docs(k).dupOf.nonEmpty) None else Some(docs(k))
        }
      }
      docs(i) =
        if (id % 50 == 0) Doc(id, cleanText(seed, id), None, None, false)
        else if (r < 6) earlier() match {
          case Some(src) =>
            Doc(id, src.text, Some(src.dupOf.getOrElse(src.id)), None, false)
          case None => Doc(id, cleanText(seed, id), None, None, false)
        }
        else if (r < 14) earlier() match {
          case Some(src) =>
            Doc(id, nearEdit(seed, id, src.text), None, Some(src.id), false)
          case None => Doc(id, cleanText(seed, id), None, None, false)
        }
        else if (r < 18)
          // two tokens unique to this doc, repeated: never a copy of
          // another low-quality doc
          Doc(id, Seq.fill(40)(s"buy$id now$id").mkString(" "), None, None,
            true)
        else Doc(id, cleanText(seed, id), None, None, false)
      i += 1
    }
    docs.toIndexedSeq
  }
}
