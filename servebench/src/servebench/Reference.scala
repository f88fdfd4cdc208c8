package servebench

import graft.query._

/** A stored chunk as the reference sees it: store id, post, vector. */
final case class Row(id: Long, postId: Long, vec: Array[Float]) {
  lazy val bits: Array[Long] = Reference.signBits(vec)
  lazy val mag: Double = math.sqrt(Reference.dot(vec, vec))
}

/** Driver-side reference implementations the benchmark checks the
  * engine against. They restate the engine's documented semantics in
  * plain Scala, independent of Spark:
  *
  *  - the four-stage funnel: AND-of-OR filter with EXISTS semantics for
  *    meta predicates (raw string compares), Hamming top-10n, cosine
  *    top-5n, then either the attribute sort or cosine order, cut to n;
  *    every ordering breaks ties on the lower id;
  *  - exact cosine top-k within an IVF probe set, with the argmax-dot
  *    list assignment (lowest list on ties).
  *
  * Arithmetic follows the engine's kernels: float products accumulated
  * in double in index order, cosine = dot / (|v| |q| + 1e-12). */
object Reference {
  val CosineEps = 1e-12

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def signBits(v: Array[Float]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) / 64)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0f) words(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  def hamming(a: Array[Long], b: Array[Long]): Int = {
    var d = 0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { d += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    d
  }

  def cosine(r: Row, q: Array[Float], qMag: Double): Double =
    dot(r.vec, q) / (r.mag * qMag + CosineEps)

  // ---- stage 1: filters -------------------------------------------------

  private def raw(v: FilterValue): Any = v match {
    case FilterValue.I(x) => x
    case FilterValue.F(x) => x
    case FilterValue.S(x) => x
    case FilterValue.T(x) => x
    case FilterValue.L(xs) => xs.map(raw)
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(s"reference cannot compare $a with $b")
  }

  /** One predicate against one value (a posts column or a meta value). */
  def matches(f: Filter, value: Any): Boolean = {
    def eqAny(xs: Seq[FilterValue]) = xs.exists(x => cmp(value, raw(x)) == 0)
    f.op match {
      case FilterOp.Eq => cmp(value, raw(f.value)) == 0
      case FilterOp.Ne => cmp(value, raw(f.value)) != 0
      case FilterOp.Gt => cmp(value, raw(f.value)) > 0
      case FilterOp.Lt => cmp(value, raw(f.value)) < 0
      case FilterOp.Ge => cmp(value, raw(f.value)) >= 0
      case FilterOp.Le => cmp(value, raw(f.value)) <= 0
      case FilterOp.In => f.value match {
        case FilterValue.L(xs) => xs.isEmpty || eqAny(xs)
        case other => cmp(value, raw(other)) == 0
      }
      case FilterOp.NotIn => f.value match {
        case FilterValue.L(xs) => xs.isEmpty || !eqAny(xs)
        case other => cmp(value, raw(other)) != 0
      }
      case FilterOp.Like => value.toString.contains(raw(f.value).toString)
      case FilterOp.NotLike => !value.toString.contains(raw(f.value).toString)
    }
  }

  private def postField(p: PostRow, field: String): Any = field match {
    case "post_type" => p.postType
    case "post_status" => p.postStatus
    case "post_date" => p.postDate
    case "post_author" => p.author
    case "comment_count" => p.commentCount
    case other => throw new IllegalArgumentException(s"reference has no posts column $other")
  }

  /** Post ids passing the builder's AND-of-OR filter. */
  def candidatePosts(posts: Seq[PostRow], meta: Seq[MetaRow],
      qb: QueryBuilder): Set[Long] = {
    val metaByPost = meta.groupBy(_.postId)
    def holds(p: PostRow, f: Filter): Boolean =
      if (f.meta) metaByPost.getOrElse(p.id, Nil)
        .exists(m => m.key == f.field && matches(f, m.value))
      else matches(f, postField(p, f.field))
    posts.iterator
      .filter(p => qb.groups.filter(_.nonEmpty).forall(_.exists(holds(p, _))))
      .map(_.id).toSet
  }

  // ---- stage 4: attribute sort -----------------------------------------

  /** MAX(meta_value) per post for `key`, cast as the sort asks;
    * unparseable values become None (they sort as NULL). */
  def metaSortKey(meta: Seq[MetaRow], key: String,
      cast: MetaCast): Map[Long, Option[BigDecimal]] = {
    require(cast == MetaCast.AsDecimal, s"reference only sorts AsDecimal, got $cast")
    meta.filter(_.key == key).groupBy(_.postId).map { case (p, rows) =>
      p -> scala.util.Try(BigDecimal(rows.map(_.value).max)).toOption
    }
  }

  // ---- the funnel -------------------------------------------------------

  /** Top-n ids of the four-stage funnel over `rows` (already restricted
    * to the candidate posts). `sortKey` is the stage-4 key per post with
    * its direction; absent means cosine order. */
  def funnel(rows: Seq[Row], q: Array[Float], n: Int,
      sortKey: Option[(Long => Option[BigDecimal], Boolean)] = None,
      stage2Factor: Int = 10, stage3Factor: Int = 5): Seq[Long] = {
    val qBits = signBits(q)
    val qMag = math.sqrt(dot(q, q))
    val stage2 = rows.map(r => (hamming(r.bits, qBits), r))
      .sortBy { case (h, r) => (h, r.id) }.take(stage2Factor * n).map(_._2)
    val stage3 = stage2.map(r => (cosine(r, q, qMag), r))
      .sortBy { case (c, r) => (-c, r.id) }.take(stage3Factor * n)
    val ordered = sortKey match {
      case None => stage3.map(_._2)
      case Some((key, desc)) =>
        // DESC puts NULLs last and ASC puts them first (Spark's defaults)
        val (withKey, nulls) = stage3.map(_._2).partition(r => key(r.postId).isDefined)
        val byKey = withKey.sortWith { (a, b) =>
          val c = key(a.postId).get.compare(key(b.postId).get)
          if (c != 0) (if (desc) c > 0 else c < 0) else a.id < b.id
        }
        val nullsById = nulls.sortBy(_.id)
        if (desc) byKey ++ nullsById else nullsById ++ byKey
    }
    ordered.take(n).map(_.id)
  }

  /** Exact cosine top-k ids over `rows`, id tiebreak. */
  def exactTopK(rows: Iterable[Row], q: Array[Float], k: Int): Seq[Long] = {
    val qMag = math.sqrt(dot(q, q))
    rows.iterator.map(r => (cosine(r, q, qMag), r.id)).toSeq
      .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
  }

  // ---- IVF --------------------------------------------------------------

  /** argmax-dot list of a vector; the lowest list wins ties. */
  def assign(v: Array[Float], centroids: Seq[Array[Float]]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity; var i = 0
    while (i < centroids.size) {
      val s = dot(v, centroids(i))
      if (s > bestScore) { best = i; bestScore = s }
      i += 1
    }
    best
  }

  /** The nprobe lists a query probes: highest centroid dot first, lower
    * list id on ties. */
  def probeSet(q: Array[Float], centroids: Seq[Array[Float]], nprobe: Int): Set[Int] =
    centroids.zipWithIndex.map { case (c, i) => (i, dot(c, q)) }
      .sortBy { case (i, d) => (-d, i) }.take(nprobe).map(_._1).toSet

  /** Recall of `got` against `exact`: shared ids over |exact|. */
  def recall(got: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.size
}
