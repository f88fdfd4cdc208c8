package servebench

import graft.query._

/** Self-tests for the harness: reporting rules, failure accounting and
  * the reference funnel on a hand-computed fixture. Plain assertions, no
  * Spark session. Run with `python3 servebench/run.py --selftest`. */
object SelfTest {
  private var passed = 0
  private val failed = scala.collection.mutable.ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else failed += name
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  // ---- percentile rule -------------------------------------------------

  private def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples has 10 beyond it, so it is reported")(
      Stats.percentile(xs, 90) == Some(90.0))
    check("p90 of 99 samples has 9 beyond it, so it is not")(
      Stats.percentile(xs.take(99), 90).isEmpty)
    check("p50 needs 20 samples")(
      Stats.percentile(xs.take(20), 50) == Some(10.0) && Stats.percentile(xs.take(19), 50).isEmpty)
    check("p99 needs 1000 samples")(
      Stats.percentile((1 to 999).map(_.toDouble), 99).isEmpty &&
        Stats.percentile((1 to 1000).map(_.toDouble), 99) == Some(990.0))
    check("highest reportable tail of 150 samples is p90")(
      Stats.highestTail((1 to 150).map(_.toDouble)) == Some((90.0, 135.0)))
    check("no tail from 5 samples")(Stats.highestTail(xs.take(5)).isEmpty)
    check("median of an even count averages the middle pair")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("median is order-free")(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  // ---- failure-share accounting ----------------------------------------

  private def tally(): Unit = {
    val t = new Tally
    t.run("ok")(1)(_ => None)
    t.run("wrong")(2)(v => Some(s"got $v"))
    t.run("throws")(sys.error("boom"): Int)(_ => None)
    t.run("check throws")(3)(_ => sys.error("bad check"))
    t.record(None)
    check("every operation counts once against the attempts")(t.attempted == 5)
    check("wrong, thrown and failed checks all count as failed")(t.failed == 3)
    check("error rate is failed over attempted")(t.errorRate == 3.0 / 5)
    check("a failed operation names its problem")(
      t.failures.exists(_.contains("throws threw")) && t.failures.exists(_.contains("got 2")))
    check("an empty tally has error rate 0")(new Tally().errorRate == 0.0)
  }

  // ---- reference funnel on a hand-computed fixture ---------------------
  //
  // q = (1, 1, 0, 0); its sign sketch sets dims 0 and 1.
  //   id  vector                     hamming  cosine
  //   1   (0, 0, 0, 0)   zero vector    2      0 (not NaN)
  //   2   (2, 2, 0, 0)                  0      ~1
  //   3   (2, 2, 0, 0)   same as 2      0      ~1, exactly tied with 2
  //   4   (3, 0.1, 0, 0) sign-equal     0      0.7303
  //   5   (-1, -1, 0, 0)                2     -1
  //   6   (.5, .5, .5, -.5)             1      0.7071
  //   7   (1, 1, -.001, .001)           1      0.99999...

  private val q = Array(1f, 1f, 0f, 0f)
  private val rows = Seq(
    1L -> Array(0f, 0f, 0f, 0f), 2L -> Array(2f, 2f, 0f, 0f), 3L -> Array(2f, 2f, 0f, 0f),
    4L -> Array(3f, 0.1f, 0f, 0f), 5L -> Array(-1f, -1f, 0f, 0f),
    6L -> Array(0.5f, 0.5f, 0.5f, -0.5f), 7L -> Array(1f, 1f, -0.001f, 0.001f))
    .map { case (id, v) => Row(id, id, v) }

  private def funnel(): Unit = {
    val qBits = Reference.signBits(q)
    check("hamming distances match the table")(
      rows.map(r => Reference.hamming(r.bits, qBits)) == Seq(2, 0, 0, 0, 2, 1, 1))
    check("the zero vector scores cosine 0, not NaN")(
      Reference.cosine(rows.head, q, math.sqrt(Reference.dot(q, q))) == 0.0)
    check("sign packing agrees with the engine's query packing")(
      rows.forall(r => r.bits.sameElements(graft.operators.SearchEngine.packQuery(r.vec))))
    check("the prefilter drops id 7 despite its cosine; the 2/3 tie goes to the lower id")(
      Reference.funnel(rows, q, n = 2, stage2Factor = 2, stage3Factor = 1) == Seq(2L, 3L))
    check("with a wide prefilter the cosine order wins")(
      Reference.funnel(rows, q, n = 3) == Seq(2L, 3L, 7L))
    check("exact top-k breaks the cosine tie on id")(
      Reference.exactTopK(rows, q, 3) == Seq(2L, 3L, 7L))
    val key: Long => Option[BigDecimal] = Map(3L -> BigDecimal(5), 7L -> BigDecimal(5)).get
    // stage 3 keeps the 3 best by cosine (2, 3, 7); stage 4 reorders them
    check("a descending attribute sort puts NULL keys last and breaks key ties on id")(
      Reference.funnel(rows, q, n = 3, Some((key, true)), stage3Factor = 1) == Seq(3L, 7L, 2L))
    check("an ascending attribute sort puts NULL keys first")(
      Reference.funnel(rows, q, n = 3, Some((key, false)), stage3Factor = 1) == Seq(2L, 3L, 7L))
  }

  // ---- filter semantics --------------------------------------------------

  private def filters(): Unit = {
    import FilterOp._, FilterValue._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val posts = Seq(PostRow(1, "post", "publish", t, 1, 0), PostRow(2, "page", "draft", t, 1, 0))
    val meta = Seq(MetaRow(1, "price", "9"), MetaRow(1, "price", "10"), MetaRow(2, "lang", "de"))
    def ids(qb: QueryBuilder) = Reference.candidatePosts(posts, meta, qb)
    check("a meta predicate holds when any row of the key matches")(
      ids(QueryBuilder().withGroup(Filter("price", Eq, S("10"), meta = true))) == Set(1L))
    check("meta values compare as text: \"10\" < \"9\"")(
      ids(QueryBuilder().withGroup(Filter("price", Gt, S("95"), meta = true))).isEmpty &&
        ids(QueryBuilder().withGroup(Filter("price", Lt, S("2"), meta = true))) == Set(1L))
    check("groups are ANDed, members ORed")(
      ids(QueryBuilder()
        .withGroup(Filter("post_type", Eq, S("page")), Filter("price", Eq, S("9"), meta = true))
        .withGroup(Filter("post_status", Eq, S("draft")))) == Set(2L))
    check("LIKE is a substring match; empty IN matches everything")(
      ids(QueryBuilder().withGroup(Filter("lang", Like, S("e"), meta = true))) == Set(2L) &&
        ids(QueryBuilder().withGroup(Filter("post_type", In, L(Nil)))) == Set(1L, 2L))
    check("the decimal sort key takes the text MAX, then casts")(
      Reference.metaSortKey(meta, "price", MetaCast.AsDecimal) == Map(1L -> Some(BigDecimal(9))))
  }

  private def intervals(): Unit = {
    check("overlapping job intervals are counted once")(
      Span.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 150L))) == 40)
    check("intervals outside the span do not count")(
      Span.covered(50, 60, Seq((0L, 10L), (70L, 80L))) == 0)
  }

  def main(args: Array[String]): Unit = {
    percentiles(); tally(); funnel(); filters(); intervals()
    println(s"$passed passed, ${failed.size} failed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
