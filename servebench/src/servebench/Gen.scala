package servebench

import java.sql.Timestamp

import graft.query._

/** One WordPress post as the generator emits it (the `posts` columns the
  * engine's filters read). */
final case class PostRow(id: Long, postType: String, postStatus: String,
    postDate: Timestamp, author: Long, commentCount: Long)

/** One EAV `postmeta` row. */
final case class MetaRow(postId: Long, key: String, value: String)

/** One raw chunk embedding: the `(post_id, sequence_no, vector)` an
  * embedding model hands to the store. */
final case class Chunk(postId: Long, seq: Int, vec: Array[Float])

/** One search request of the filtered mix. */
final case class Request(vec: Array[Float], builder: QueryBuilder, label: String)

/** Seeded, clustered input generator. Vectors are a Gaussian mixture
  * ([[Gen.Clusters]] unit-variance centres plus [[Gen.Noise]]-scaled
  * per-chunk jitter); a post draws one cluster and its chunks jitter
  * around it, so sign sketches and IVF lists group meaningfully. Queries
  * are perturbed stored chunks. The same seed gives the same inputs. */
final class Gen(seed: Long) {
  import Gen.{ChunksPerPost, Clusters, Dims, Noise}
  private val rnd = new scala.util.Random(seed)
  private val centres: Array[Array[Float]] =
    Array.fill(Clusters)(Array.fill(Dims)(rnd.nextGaussian().toFloat))

  private def jitter(base: Array[Float], scale: Double): Array[Float] =
    base.map(x => (x + scale * rnd.nextGaussian()).toFloat)

  /** [[Gen.ChunksPerPost]] vectors for one post (one cluster per post). */
  def postVectors(): Array[Array[Float]] = {
    val c = centres(rnd.nextInt(Clusters))
    Array.fill(ChunksPerPost)(jitter(c, Noise))
  }

  def chunks(postIds: Seq[Long]): Array[Chunk] =
    postIds.iterator.flatMap { p =>
      postVectors().zipWithIndex.map { case (v, s) => Chunk(p, s, v) }
    }.toArray

  private val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def pick[T](weighted: Seq[(T, Double)]): T = {
    val u = rnd.nextDouble()
    var acc = 0.0
    weighted.find { case (_, w) => acc += w; u < acc }.fold(weighted.last._1)(_._1)
  }

  /** Posts with skewed categorical columns, and an EAV table with
    * `lang`, `rating` (numeric strings compared as text, as the engine
    * does), and `price` (numeric strings, 1 in 8 posts carrying a
    * duplicate key, 1 in 20 a non-numeric value). */
  def posts(ids: Seq[Long]): (Array[PostRow], Array[MetaRow]) = {
    val ps = ids.map { id =>
      PostRow(id,
        pick(Seq("post" -> 0.7, "page" -> 0.2, "product" -> 0.1)),
        pick(Seq("publish" -> 0.9, "draft" -> 0.1)),
        new Timestamp(epoch + rnd.nextInt(365 * 86400) * 1000L),
        1L + rnd.nextInt(50), rnd.nextInt(200).toLong)
    }.toArray
    val meta = ids.iterator.flatMap { id =>
      val lang = MetaRow(id, "lang",
        pick(Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.15, "es" -> 0.1)))
      val rating = MetaRow(id, "rating", (1 + rnd.nextInt(5)).toString)
      def price = MetaRow(id, "price",
        if (rnd.nextInt(20) == 0) "n/a"
        else f"${rnd.nextInt(20000) / 100.0}%.2f")
      val prices = if (rnd.nextInt(8) == 0) Seq(price, price) else Seq(price)
      Seq(lang, rating) ++ prices
    }.toArray
    (ps, meta)
  }

  /** A query near a stored chunk: the chunk plus small jitter. */
  def queryNear(v: Array[Float]): Array[Float] = jitter(v, 0.3)

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object Gen {
  import FilterOp._
  import FilterValue._

  val Dims = 384
  val ChunksPerPost = 4
  val Clusters = 64
  val Noise = 0.7

  /** AND-of-OR filters at about 5 %, 30 % and 100 % selectivity over
    * [[Gen.posts]]' distributions, each mixing plain and meta
    * predicates. */
  val filters: Seq[(String, QueryBuilder)] = Seq(
    "sel05" -> QueryBuilder()
      .withGroup(Filter("post_type", Eq, S("page")), Filter("lang", Eq, S("fr"), meta = true))
      .withGroup(Filter("rating", Eq, S("5"), meta = true))
      .withGroup(Filter("post_status", Eq, S("publish"))),
    "sel30" -> QueryBuilder()
      .withGroup(Filter("post_type", Eq, S("post")), Filter("lang", Eq, S("es"), meta = true))
      .withGroup(Filter("rating", In, L(Seq(S("1"), S("2"))), meta = true)),
    "sel100" -> QueryBuilder()
      .withGroup(Filter("post_status", In, L(Seq(S("publish"), S("draft")))),
        Filter("lang", Like, S("e"), meta = true)))

  /** The stage-4 meta sort every fourth filtered query adds. */
  val priceSort: Sort = Sort("price", SortDir.Desc, Some(MetaCast.AsDecimal))

  /** The i-th request of the filtered mix: filters cycle through
    * [[filters]], and every fourth request adds [[priceSort]]. */
  def filteredRequest(i: Int, vec: Array[Float]): Request = {
    val (label, qb) = filters(i % filters.size)
    if (i % 4 == 3) Request(vec, qb.withSort(priceSort), label + "+sort")
    else Request(vec, qb, label)
  }

  /** Every distinct plan shape of the filtered mix: each filter, then
    * each filter with the sort. Warming these up compiles every shape
    * the mix will run. */
  val shapes: Seq[(String, QueryBuilder)] =
    filters ++ filters.map { case (label, qb) => (label + "+sort", qb.withSort(priceSort)) }
}
