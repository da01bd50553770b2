package graft.perfbench

/** Generator determinism, checked without Spark: the same seed gives an
  * identical input digest; another seed gives another digest with the
  * same sizes and planted rates. Prints one line per check and exits
  * non-zero on the first failure.
  */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val (a, b) = (7L, 8L)

    val li = Seq(a, a, b).map(Gen.lineitem(_, 1000))
    expect(li(0).digest == li(1).digest, "lineitem: same seed, same digest")
    expect(li(0).digest != li(2).digest, "lineitem: other seed, other digest")
    expect(li(0).rows == li(2).rows, "lineitem: other seed, same row count")

    val cr = Seq(a, a, b).map(Gen.crawl(_, 600, 40))
    expect(cr(0).digest == cr(1).digest, "crawl: same seed, same digest")
    expect(cr(0).digest != cr(2).digest, "crawl: other seed, other digest")
    expect(cr(0).pages == cr(2).pages, "crawl: other seed, same page count")
    expect(cr(0).exactDups.size == cr(2).exactDups.size && cr(0).nearDups.size == cr(2).nearDups.size,
      "crawl: other seed, same planted duplicate counts")
    expect(cr.forall(c => (c.exactDups ++ c.nearDups).forall { case (copy, orig) => orig < copy }),
      "crawl: every planted original has the lower id")

    def vectors(seed: Long) = {
      val e = new Gen.Embeddings(seed, 16, 4)
      val standing = e.members(10, 0L, 200)
      (standing, e.nearCopies(100, standing, 200L, 20))
    }
    val vs = Seq(a, a, b).map(vectors)
    expect(vs(0)._1.digest == vs(1)._1.digest && vs(0)._2.digest == vs(1)._2.digest,
      "embeddings: same seed, same digest")
    expect(vs(0)._1.digest != vs(2)._1.digest, "embeddings: other seed, other digest")
    expect(vs(0)._1.size == vs(2)._1.size && vs(0)._2.size == vs(2)._2.size,
      "embeddings: other seed, same sizes")
  }
}
