package servebench

import graft.operators.SearchEngine
import graft.query.QueryCompiler
import graft.sources.EmbeddingStore

/** search_filtered: one closed-loop client sends filtered four-stage
  * searches against a warm session. The store is small on purpose: the
  * per-query fixed cost (store listing, plan construction, job count)
  * dominates at any store size, and that is what this workload exposes. */
object SearchFiltered {
  import Gen.{ChunksPerPost, Dims}

  val Posts = 500
  val Buckets = 64
  val N = 5
  val QueryPool = 256
  /** Warm-up: every plan shape of the mix; then, after the full GC, the
    * unsorted shapes (3 in 4 of the mix) again, so the timed phase starts
    * near the JIT plateau and past the collection's after-effects. */
  val WarmupMix: Seq[(String, graft.query.QueryBuilder)] = Gen.shapes ++ Gen.filters

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    import tracer.{op, span}

    // ---- inputs, generated before any timing --------------------------
    val gen = new Gen(ctx.seed)
    val postIds = (1L to Posts.toLong)
    val chunks = gen.chunks(postIds)
    val (posts, meta) = gen.posts(postIds)
    val queries = Array.fill(QueryPool)(gen.queryNear(chunks(gen.nextInt(chunks.length)).vec))
    Util.writeInputs(spark, ctx.work, chunks, posts, meta)

    // ---- setup: bulk load -------------------------------------------------
    val storePath = s"${ctx.work}/store"
    val store = new EmbeddingStore(spark, storePath, Buckets)
    val (_, setupMs) = Util.timed(op("setup") {
      span("sources.EmbeddingStore.bulkLoad")(store.bulkLoad(spark.read.parquet(s"${ctx.work}/raw")))
    })
    val postsDf = spark.read.parquet(s"${ctx.work}/posts")
    val metaDf = spark.read.parquet(s"${ctx.work}/postmeta")

    // ---- reference state ----------------------------------------------
    val vecOf = chunks.map(c => (c.postId, c.seq) -> c.vec).toMap
    val rows = store.read().select("id", "post_id", "sequence_no").collect().map { r =>
      Row(r.getLong(0), r.getLong(1), vecOf((r.getLong(1), r.getInt(2))))
    }.toSeq
    val candidates = Gen.filters.map { case (label, qb) =>
      val ps = Reference.candidatePosts(posts.toSeq, meta.toSeq, qb)
      label -> rows.filter(r => ps(r.postId))
    }.toMap
    val priceKey = Reference.metaSortKey(meta.toSeq, Gen.priceSort.field,
      Gen.priceSort.meta.get)
    val priceOf = (p: Long) => priceKey.getOrElse(p, None)

    val tally = new Tally
    val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def check(req: Request, got: Seq[Long]): Option[String] = {
      val cand = candidates(req.label.stripSuffix("+sort"))
      val sortKey = if (req.builder.hasSorts) Some((priceOf, true)) else None
      if (!req.builder.hasSorts) recalls += Reference.recall(got, Reference.exactTopK(cand, req.vec, N))
      Util.mismatch(s"search (${req.label})", got, Reference.funnel(cand, req.vec, N, sortKey))
    }

    /** One request end to end: list the store, build the plan, run it.
      * A traced request also times the candidate filter's plan on its
      * own, a call the untraced request does not make; the result's
      * second half is that call's time, which the request's latency
      * excludes. */
    def search(req: Request, traced: Boolean): (Seq[Long], Double) =
      op("op.search", traced) {
        val embs = span("sources.EmbeddingStore.read")(store.read())
        val (_, asideMs) =
          if (traced) Util.timed(span("query.QueryCompiler.candidatePosts")(
            QueryCompiler.candidatePosts(postsDf, metaDf, req.builder)))
          else ((), 0.0)
        val df = span("operators.SearchEngine.search")(
          SearchEngine.search(embs, postsDf, metaDf, req.vec, N, req.builder))
        (span("operators.SearchEngine.search.exec")(Util.ids(df.collect())), asideMs)
      }

    // ---- warm-up (checked, not timed) ------------------------------------
    val warmup = WarmupMix.zip(queries.takeRight(WarmupMix.size)).map { case ((l, qb), v) => Request(v, qb, l) }
    def warm(reqs: Seq[Request]): Unit = reqs.foreach(req =>
      tally.run(s"warm-up search (${req.label})")(search(req, traced = false)._1)(check(req, _)))
    warm(warmup.take(Gen.shapes.size))
    System.gc()
    warm(warmup.drop(Gen.shapes.size))

    // ---- timed phase ----------------------------------------------------
    val gc0 = Jvm.gcMs()
    val results = scala.collection.mutable.ArrayBuffer.empty[(Request, Seq[Long])]
    val untracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = Util.now()
    val deadline = t0 + ctx.seconds * 1000000000L
    var i = 0
    // whole cycles of the mix (the 4th query of each sorted), so every run's
    // median sees the same share of sorted queries
    while (i % 4 != 0 || Util.now() < deadline) {
      val req = Gen.filteredRequest(i, queries(i % (QueryPool - WarmupMix.size)))
      // traced and untraced alternate, in the opposite order in odd cycles,
      // so each side gets one of every two sorted queries
      val traced = ctx.trace && (i + i / 4) % 2 == 0
      val s0 = Util.now()
      try {
        val (got, asideMs) = search(req, traced)
        (if (traced) tracedMs else untracedMs) += Util.msSince(s0) - asideMs
        results += req -> got
      } catch { case e: Exception => tally.record(Some(s"search #$i (${req.label}) threw $e")) }
      i += 1
    }
    val wallMs = Util.msSince(t0)
    val gcMs = Jvm.gcMs() - gc0
    results.foreach { case (req, got) => tally.record(check(req, got)) }

    // ---- report ---------------------------------------------------------
    val spans = tracer.finish()
    // latencies come from untraced searches; a traced run may have none
    val latencies = Some(untracedMs.toSeq).filter(_.nonEmpty).getOrElse(tracedMs.toSeq)
    val nRows = rows.size.toLong
    val storeBytes = Util.dataBytes(spark, storePath)
    val overhead =
      if (tracedMs.nonEmpty && untracedMs.nonEmpty) Stats.median(tracedMs.toSeq) - Stats.median(untracedMs.toSeq)
      else 0.0
    val heap = Jvm.liveHeapMb()
    val endToEnd = EndToEnd(
      setupS = setupMs / 1000,
      searchP50Ms = Stats.median(latencies),
      searchQps = results.size / (wallMs / 1000),
      storeBytesPerVectorByte = storeBytes.toDouble / (nRows * Dims * 4),
      liveHeapMb = heap)
    val tail = Stats.highestTail(latencies).fold("no tail percentile: under 100 samples")(
      { case (p, v) => f"search_p${p.toInt}_ms $v%.1f" })
    val info = Seq(
      s"seed ${ctx.seed}; posts $Posts x $ChunksPerPost chunks x $Dims dims = $nRows chunks; " +
        s"buckets $Buckets; n $N; clients 1; warm-up ${WarmupMix.size}; cpus ${ctx.cpus}",
      f"searches timed ${results.size} (${tracedMs.size} traced) in ${wallMs / 1000}%.1f s; $tail",
      s"latencies (ms): ${latencies.map(x => f"$x%.0f").mkString(" ")}",
      f"search_recall_at_5 ${if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size}%.4f over ${recalls.size} unsorted searches",
      f"gc in timed phase ${gcMs}%.0f ms") ++
      ctx.writeTrace("search_filtered", spans)
    Result(endToEnd, Layers.summarise(spans, gcMs, overhead), tally, info)
  }
}
