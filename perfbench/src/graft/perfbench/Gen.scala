package graft.perfbench

import java.security.MessageDigest

import scala.collection.mutable

/** Seeded input generators. Every input the program sees is built here
  * from `--seed`: the same seed gives byte-identical inputs, a
  * different seed gives different values with the same sizes and
  * planted rates. Each input family draws from its own stream
  * (`rng(seed, tag)`), so adding a draw to one never shifts another.
  */
object Gen {

  def rng(seed: Long, tag: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + tag * 0xBF58476D1CE4E5B9L + 1L)

  /** Accumulates a SHA-256 digest over generated values. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def double(v: Double): Unit = long(java.lang.Double.doubleToLongBits(v))
    def string(s: String): Unit = { long(s.length.toLong); md.update(s.getBytes("UTF-8")) }
    def floats(a: Array[Float]): Unit = a.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ------------------------------------------------------------ lineitem

  /** Lineitem-shaped rows (TPC-H value ranges): the relation the
    * `ml_sql` workload featurizes and trains on in SQL.
    */
  final case class Lineitem(
      orderkey: Array[Long],
      linenumber: Array[Int],
      quantity: Array[Double],
      partprice: Array[Double],
      extendedprice: Array[Double],
      discount: Array[Double],
      tax: Array[Double],
      shipdays: Array[Int],
      commitlag: Array[Int],
      flag: Array[Int],
  ) {
    def rows: Int = orderkey.length

    /** The 8 features and 1 target the SQL featurization computes,
      * for the direct kernel calls of a traced run.
      */
    def features(i: Int): Array[Float] = Array(
      (quantity(i) / 50.0).toFloat, (partprice(i) / 2100.0).toFloat,
      (discount(i) * 10.0).toFloat, (tax(i) * 12.5).toFloat,
      (linenumber(i) / 7.0).toFloat, (shipdays(i) / 2500.0).toFloat,
      ((commitlag(i) + 30) / 60.0).toFloat, (flag(i) / 2.0).toFloat)

    def target(i: Int): Float =
      (extendedprice(i) * (1.0 - discount(i)) * (1.0 + tax(i)) / 100000.0).toFloat

    def digest: String = {
      val d = new Digest
      (0 until rows).foreach { i =>
        d.long(orderkey(i)); d.long(linenumber(i).toLong); d.double(quantity(i))
        d.double(partprice(i)); d.double(discount(i)); d.double(tax(i))
        d.long(shipdays(i).toLong); d.long(commitlag(i).toLong); d.long(flag(i).toLong)
      }
      d.hex
    }
  }

  def lineitem(seed: Long, n: Int): Lineitem = {
    val r = rng(seed, 1)
    val qty = Array.fill(n)((1 + r.nextInt(50)).toDouble)
    val price = Array.fill(n)(math.rint((900.0 + r.nextDouble() * 1200.0) * 100) / 100)
    val disc = Array.fill(n)(r.nextInt(11) / 100.0)
    val tax = Array.fill(n)(r.nextInt(9) / 100.0)
    Lineitem(
      orderkey = Array.tabulate(n)(i => (i / 4).toLong * 32 + r.nextInt(8)),
      linenumber = Array.fill(n)(1 + r.nextInt(7)),
      quantity = qty,
      partprice = price,
      extendedprice = Array.tabulate(n)(i => math.rint(qty(i) * price(i) * 100) / 100),
      discount = disc,
      tax = tax,
      shipdays = Array.fill(n)(r.nextInt(2500)),
      commitlag = Array.fill(n)(r.nextInt(61) - 30),
      flag = Array.fill(n)(r.nextInt(3)),
    )
  }

  // --------------------------------------------------------------- crawl

  /** A planted crawl: HTML pages with known duplicates and boilerplate.
    * `exactDups` / `nearDups` map a planted copy's id to its original's
    * id; originals always have the lower id (keep-min-id keeps them).
    */
  final case class Crawl(
      ids: Array[Long],
      urls: Array[String],
      htmls: Array[String],
      exactDups: Map[Long, Long],
      nearDups: Map[Long, Long],
      boilerTokens: Seq[String],
  ) {
    def pages: Int = ids.length
    def digest: String = {
      val d = new Digest
      ids.indices.foreach { i => d.long(ids(i)); d.string(urls(i)); d.string(htmls(i)) }
      d.hex
    }
  }

  val Stopwords: Array[String] = Array("the", "and", "that", "this", "have", "from", "was",
    "were", "not", "with", "for", "are", "but", "they", "which", "their")

  /** Share of pages planted as exact copies, and again as near copies. */
  val DupRate = 0.05
  val Hosts = 40
  val BoilerLines = 6

  def crawl(seed: Long, n: Int, contentTokens: Int): Crawl = {
    val r = rng(seed, 2)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(4000)(Array.fill(4 + r.nextInt(6))(letters(r.nextInt(26))).mkString)
    // Zipf-skewed host mix: host 0 carries ~23% of the pages, host 1 ~11%
    val weights = Array.tabulate(Hosts)(h => 1.0 / math.pow(h + 1, 1.1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def pickHost(): Int = { val u = r.nextDouble(); math.min(Hosts - 1, cum.indexWhere(_ >= u)) }
    val hosts = Array.fill(n)(pickHost())
    def content(): String =
      (0 until contentTokens).map(k =>
        if (k % 2 == 0) Stopwords(r.nextInt(Stopwords.length)) else vocab(r.nextInt(vocab.length)))
        .mkString(" ")
    val contents = Array.fill(n)(content())
    val boiler = (0 until BoilerLines).map(k =>
      s"bpl$k subscribe to the weekly newsletter for updates from bpl$k")
    val top = Array.fill(n)(r.nextInt(BoilerLines))
    val bottom = Array.fill(n)(if (r.nextBoolean()) r.nextInt(BoilerLines) else -1)
    // planted pages stay off the two hottest hosts, which the per-host
    // cap trims, so the cap can never be what removes a planted copy
    val dupCount = (n * DupRate).toInt
    def shuffledIds(from: Int, until: Int): Array[Int] =
      new scala.util.Random(r)
        .shuffle((from until until).filter(hosts(_) >= 2).toVector).toArray
    val originals = shuffledIds(0, n / 2).take(2 * dupCount)
    val copies = shuffledIds(n / 2, n).take(2 * dupCount)
    require(originals.length == 2 * dupCount && copies.length == 2 * dupCount,
      "crawl too small for its planted duplicate rate")
    val exact = mutable.LinkedHashMap.empty[Long, Long]
    val near = mutable.LinkedHashMap.empty[Long, Long]
    copies.indices.foreach { j =>
      val (c, o) = (copies(j), originals(j))
      if (j < dupCount) {
        contents(c) = contents(o); top(c) = top(o); bottom(c) = bottom(o)
        exact(c.toLong) = o.toLong
      } else {
        contents(c) = contents(o) + " " + vocab(r.nextInt(vocab.length))
        near(c.toLong) = o.toLong
      }
    }
    val htmls = Array.tabulate(n) { i =>
      val tail = if (bottom(i) >= 0) s"<p>${boiler(bottom(i))}</p>" else ""
      s"<html><body><p>${boiler(top(i))}</p><p>${contents(i)}</p>$tail</body></html>"
    }
    Crawl(
      ids = Array.tabulate(n)(_.toLong),
      urls = Array.tabulate(n)(i => s"http://h${hosts(i)}.example.com/p/$i"),
      htmls = htmls,
      exactDups = exact.toMap,
      nearDups = near.toMap,
      boilerTokens = (0 until BoilerLines).map(k => s"bpl$k"),
    )
  }

  // ---------------------------------------------------------- embeddings

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]]) {
    def size: Int = ids.length
    def digest: String = {
      val d = new Digest
      ids.indices.foreach { i => d.long(ids(i)); d.floats(vecs(i)) }
      d.hex
    }
  }

  /** Clustered embeddings: `clusters` Gaussian centres, members at a
    * spread that keeps two members of one cluster near cosine 0.6, far
    * below the store's 0.92 dedup threshold.
    */
  final class Embeddings(seed: Long, dim: Int, clusters: Int) {
    private val centres = {
      val r = rng(seed, 3)
      Array.fill(clusters, dim)(r.nextGaussian().toFloat)
    }
    private def member(r: java.util.Random): Array[Float] = {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(d => (c(d) + 0.8 * r.nextGaussian()).toFloat)
    }
    def members(tag: Long, firstId: Long, n: Int): Vectors = {
      val r = rng(seed, tag)
      Vectors(Array.tabulate(n)(firstId + _), Array.fill(n)(member(r)))
    }

    /** Copies of `n` distinct vectors of `of`, each nudged by small
      * noise (cosine ≈ 0.9998 to its original).
      */
    def nearCopies(tag: Long, of: Vectors, firstId: Long, n: Int): Vectors = {
      val r = rng(seed, tag)
      val picks = new scala.util.Random(r).shuffle(of.ids.indices.toVector).take(n)
      val vecs = picks.map(p => of.vecs(p).map(x => (x + 0.01 * r.nextGaussian()).toFloat)).toArray
      Vectors(Array.tabulate(n)(firstId + _), vecs)
    }
  }
}
