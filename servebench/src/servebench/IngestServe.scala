package servebench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row => SRow}
import org.apache.spark.sql.functions.col

import graft.model.QueueJob
import graft.operators.{Ann, EmbedQueue}
import graft.sources.{EmbeddingStore, IvfIndex}

/** ingest_serve: one closed-loop client interleaves writes and reads.
  * Each round claims a 25-post batch from a persisted embed queue (20 new
  * posts, 5 re-embeds), upserts its chunks, reads back their ids, folds
  * them into the IVF index (delete, then append), completes the batch,
  * then serves 4 IVF searches; every 4th round, from the first timed one,
  * runs index maintenance.
  * This is the embed pipeline's fold replayed through public calls, so
  * the store's per-bucket rewrite loop and the index's file accretion
  * both show, the latter as slower reads. */
object IngestServe {
  import Gen.{ChunksPerPost, Dims}

  val Posts = 500
  /** Fewer than the engine's default 64, so a round fits the time
    * budget: a 25-post upsert still rewrites nearly every bucket, one
    * loop iteration (read, rewrite, swap) each, about 8 per round. */
  val Buckets = 8
  val Lists = 16
  val LloydIters = 1
  val NewPerRound = 20
  val ReembedPerRound = 5
  /** A run usually times one round; 8 searches give its search median
    * enough samples to be steady. */
  val SearchesPerRound = 8
  val K = 10
  val NProbe = 4
  val MaintainEvery = 4
  val MaxRounds = 40
  val Warmup = 1
  /** IVF searches run after the warm-up round and the full GC, so the
    * short search path reaches its JIT plateau before timing. */
  val WarmupSearches = 8

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val tracer = ctx.tracer
    import tracer.{op, span, spanWith}

    // ---- inputs, generated before any timing --------------------------
    val gen = new Gen(ctx.seed)
    val initialIds = (1L to Posts.toLong)
    val chunks = gen.chunks(initialIds)
    val (posts, meta) = gen.posts(initialIds)
    Util.writeInputs(spark, ctx.work, chunks, posts, meta)
    val reembedOrder = new scala.util.Random(ctx.seed).shuffle(initialIds.toVector)
    val base = Timestamp.valueOf("2025-01-01 00:00:00").getTime
    def queuedAt(r: Int) = new Timestamp(base + r * 60000L)
    def nowAt(r: Int) = new Timestamp(base + 3600000L + r * 60000L)
    // round r's jobs: ids r*25+1.., 20 new posts then 5 re-embeds
    val roundPosts: IndexedSeq[Seq[Long]] = (0 until MaxRounds).map { r =>
      val fresh = (1 to NewPerRound).map(j => Posts.toLong + r * NewPerRound + j)
      fresh ++ reembedOrder.slice(r * ReembedPerRound, (r + 1) * ReembedPerRound)
    }
    val jobPost: Map[Long, Long] = roundPosts.zipWithIndex.flatMap { case (ps, r) =>
      ps.zipWithIndex.map { case (p, j) => (r * ps.size + j + 1).toLong -> p }
    }.toMap
    val roundChunks: IndexedSeq[Seq[Chunk]] = roundPosts.map(ps => gen.chunks(ps).toSeq)
    val roundQueries: IndexedSeq[Seq[Array[Float]]] = roundChunks.map { cs =>
      Seq.fill(SearchesPerRound / 2)(gen.queryNear(cs(gen.nextInt(cs.size)).vec)) ++
        Seq.fill(SearchesPerRound - SearchesPerRound / 2)(gen.queryNear(chunks(gen.nextInt(chunks.length)).vec))
    }
    val warmQueries = Seq.fill(WarmupSearches)(gen.queryNear(chunks(gen.nextInt(chunks.length)).vec))
    val queueRows = roundPosts.zipWithIndex.flatMap { case (ps, r) =>
      ps.zipWithIndex.map { case (p, j) =>
        SRow((r * ps.size + j + 1).toLong, p, ChunksPerPost, "pending", queuedAt(r), null, null, 0, null)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(queueRows: _*), QueueJob.schema)
      .coalesce(1).write.parquet(s"${ctx.work}/queue/v0")

    // ---- setup: load, train, build -----------------------------------------
    val storePath = s"${ctx.work}/store"
    val indexPath = s"${ctx.work}/ivf"
    val store = new EmbeddingStore(spark, storePath, Buckets)
    val index = new IvfIndex(spark, indexPath)
    val (_, setupMs) = Util.timed(op("setup") {
      span("sources.EmbeddingStore.bulkLoad")(store.bulkLoad(spark.read.parquet(s"${ctx.work}/raw")))
      val embs = store.read().select("id", "vector")
      val cents = span("operators.Ann.lloydTrain")(Ann.lloydTrain(embs, "id", "vector", Lists, LloydIters))
      span("sources.IvfIndex.build")(index.build(embs, "id", "vector", cents))
    })

    // ---- reference state: a driver-side mirror of the store -------------
    val centroids = index.centroids()
    val mirror = mutable.Map.empty[Long, Row]
    val idOfKey = mutable.Map.empty[(Long, Int), Long]
    val listOf = mutable.Map.empty[Long, Int]
    def put(id: Long, key: (Long, Int), vec: Array[Float]): Unit = {
      mirror(id) = Row(id, key._1, vec)
      idOfKey(key) = id
      listOf(id) = Reference.assign(vec, centroids)
    }
    val vecOf = chunks.map(c => (c.postId, c.seq) -> c.vec).toMap
    store.read().select("id", "post_id", "sequence_no").collect().foreach { r =>
      val key = (r.getLong(1), r.getInt(2))
      put(r.getLong(0), key, vecOf(key))
    }

    val tally = new Tally
    val recalls = mutable.ArrayBuffer.empty[Double]
    var version = 0
    def queueState(): DataFrame = spark.read.parquet(s"${ctx.work}/queue/v$version")
    def persistQueue(df: DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"${ctx.work}/queue/v${version + 1}")
      version += 1
    }
    def bucketFiles(): Map[String, Set[String]] = {
      val fs = new Path(storePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new Path(storePath)).filter(_.getPath.getName.startsWith("bucket="))
        .map(d => d.getPath.getName -> fs.listStatus(d.getPath).map(_.getPath.getName).toSet).toMap
    }

    final case class Round(batchMs: Double, busyMs: Double, searchMs: Seq[Double],
        maintainMs: Double, rows: Int)

    /** One checked IVF search; returns its latency and the check's time. */
    def search(q: Array[Float], what: String): (Double, Double) = {
      val s0 = Util.now()
      val hits = span("sources.IvfIndex.search")(Util.ids(index.search(q, K, NProbe).collect()))
      val ms = Util.msSince(s0)
      val c0 = Util.now()
      tally.record {
        val probe = Reference.probeSet(q, centroids, NProbe)
        val want = Reference.exactTopK(mirror.values.filter(x => probe(listOf(x.id))), q, K)
        recalls += Reference.recall(hits, Reference.exactTopK(mirror.values, q, K))
        Util.mismatch(s"$what search", hits, want)
      }
      (ms, Util.msSince(c0))
    }

    /** One round. `busyMs` excludes the time spent aside from the
      * round's own calls: the reference checks, and in a traced round the
      * bucket listings and index file statistics the trace records. */
    def round(r: Int, traced: Boolean): Round = op("op.round", traced) {
      var asideNs = 0L
      def aside[T](body: => T): T = {
        val c0 = Util.now()
        try body finally asideNs += Util.now() - c0
      }
      def checked(problem: => Option[String]): Unit = aside(tally.record(problem))
      val t0 = Util.now()
      // 1. claim
      val picked = span("operators.EmbedQueue.claimBatch") {
        val (next, picked) = EmbedQueue.claimBatch(queueState(), nowAt(r))
        val ids = picked.collect().map(_.getLong(0)).toSeq
        persistQueue(next)
        ids
      }
      val expectJobs = (1 to roundPosts(r).size).map(j => (r * roundPosts(r).size + j).toLong)
      checked(Util.mismatch(s"round $r claim", picked.sorted, expectJobs))
      val postIds = picked.map(jobPost)
      val batch = roundChunks(r).filter(c => postIds.contains(c.postId))
      // 2. upsert; a traced round lists the bucket files outside the span,
      // before and after, to count the buckets the upsert rewrote
      val before = if (traced) aside(bucketFiles()) else Map.empty[String, Set[String]]
      spanWith("sources.EmbeddingStore.upsert") { s =>
        store.upsert(Util.chunkFrame(spark, batch))
        s
      }.foreach { s =>
        val after = aside(bucketFiles())
        s.add("buckets_rewritten", after.count { case (b, fs) => !before.get(b).contains(fs) })
        s.add("bytes_upserted", batch.size.toDouble * Dims * 4)
      }
      // 3. read back the batch's ids
      val keys = batch.map(c => (c.postId, c.seq)).toDF("post_id", "sequence_no")
      val (batchRows, got) = span("sources.EmbeddingStore.read") {
        val df = store.read().join(keys, Seq("post_id", "sequence_no"), "left_semi")
          .select("id", "post_id", "sequence_no", "vector").persist()
        (df, df.select("id", "post_id", "sequence_no").collect()
          .map(x => (x.getLong(1), x.getInt(2)) -> x.getLong(0)).toMap)
      }
      // 4. keyed index upsert
      span("sources.IvfIndex.delete")(index.delete(batchRows.select("id")))
      span("sources.IvfIndex.append")(index.append(batchRows.select("id", "vector"), "id", "vector"))
      batchRows.unpersist()
      // 5. complete
      span("operators.EmbedQueue.complete")(persistQueue(EmbedQueue.complete(queueState(), postIds, nowAt(r))))
      val batchMs = Util.msSince(t0) - asideNs / 1e6
      checked {
        val keyProblems = batch.flatMap { c =>
          val k = (c.postId, c.seq)
          (got.get(k), idOfKey.get(k)) match {
            case (None, _) => Some(s"$k missing after upsert")
            case (Some(id), Some(old)) if id != old => Some(s"$k changed id $old -> $id")
            case (Some(id), None) if mirror.contains(id) => Some(s"$k got taken id $id")
            case _ => None
          }
        }
        if (got.size != batch.size) Some(s"round $r read back ${got.size} rows for ${batch.size} keys")
        else keyProblems.headOption.map(p => s"round $r: $p")
      }
      aside(batch.foreach(c => got.get((c.postId, c.seq)).foreach(id => put(id, (c.postId, c.seq), c.vec))))
      // 6. serve
      val searchMs = roundQueries(r).map { q =>
        val (ms, checkMs) = search(q, s"round $r")
        asideNs += (checkMs * 1e6).toLong
        ms
      }
      // 7. maintenance
      val (_, maintainMs) = Util.timed(
        if ((r - Warmup) % MaintainEvery == 0) span("sources.IvfIndex.maintain")(index.maintain().collect()))
      if (traced) aside(spanWith("sources.IvfIndex.fileStats") { s =>
        val counts = index.fileStats().collect().map(_.getInt(1))
        s.foreach(_.add("files_per_list", counts.sum.toDouble / math.max(1, counts.length)))
      })
      Round(batchMs, Util.msSince(t0) - asideNs / 1e6, searchMs, maintainMs, batch.size)
    }

    // ---- warm-up rounds (checked, not timed) -----------------------------
    (0 until Warmup).foreach(r => tally.run(s"warm-up round $r")(round(r, traced = false))(_ => None))
    System.gc()
    warmQueries.foreach(q => search(q, "warm-up"))

    // ---- timed phase ------------------------------------------------------
    val gc0 = Jvm.gcMs()
    val rounds = mutable.ArrayBuffer.empty[(Round, Boolean)]
    val t0 = Util.now()
    val deadline = t0 + ctx.seconds * 1000000000L
    var r = Warmup
    // A round starts only if one as long as the last still ends before the
    // deadline, so the number of timed rounds does not flip with small
    // changes in speed. A traced run alternates traced and untraced rounds
    // and needs one of each to measure the tracing overhead.
    var lastNs = 0L
    while ((Util.now() + lastNs < deadline || (ctx.trace && rounds.size < 2)) && r < MaxRounds) {
      val traced = ctx.trace && (r - Warmup) % 2 == 0
      val r0 = Util.now()
      tally.run(s"round $r")(round(r, traced))(_ => None).foreach(x => rounds += x -> traced)
      lastNs = Util.now() - r0
      r += 1
    }
    val gcMs = Jvm.gcMs() - gc0
    val completedRounds = r

    // ---- end state --------------------------------------------------------
    val expectRows = (Posts + completedRounds * NewPerRound) * ChunksPerPost
    val storeRows = store.read().select("id", "post_id", "sequence_no").collect()
    tally.record(
      if (storeRows.length != expectRows) Some(s"store holds ${storeRows.length} rows, expected $expectRows")
      else None)
    tally.record {
      val dups = storeRows.groupBy(x => (x.getLong(1), x.getInt(2))).count(_._2.length > 1)
      if (dups > 0) Some(s"$dups duplicate (post_id, sequence_no) keys in the store") else None
    }
    tally.record {
      val listed = index.listsView.select("id").collect().map(_.getLong(0))
      val storeIds = storeRows.map(_.getLong(0))
      if (listed.length != listed.distinct.length) Some("an id appears twice in the IVF lists")
      else if (listed.toSet != storeIds.toSet)
        Some(s"IVF lists hold ${listed.length} ids, store ${storeIds.length}; sets differ")
      else None
    }
    tally.record {
      val done = queueState().filter(col("status") === "completed").count()
      val want = completedRounds.toLong * (NewPerRound + ReembedPerRound)
      if (done != want) Some(s"queue has $done completed jobs, expected $want") else None
    }

    // ---- report -------------------------------------------------------------
    val spans = tracer.finish()
    val tracedRounds = rounds.filter(_._2).map(_._1).toSeq
    val timed = rounds.map(_._1).toSeq
    // latencies come from untraced rounds; a traced run may have none
    val plain = Some(rounds.filterNot(_._2).map(_._1).toSeq).filter(_.nonEmpty).getOrElse(timed)
    val searchLat = plain.flatMap(_.searchMs)
    val busyS = timed.map(_.busyMs).sum / 1000
    val bytes = Util.dataBytes(spark, storePath) + Util.dataBytes(spark, indexPath)
    // maintenance runs on every 4th round only, so it stays out of the comparison
    val overhead =
      if (tracedRounds.nonEmpty && tracedRounds.size < timed.size)
        Stats.median(tracedRounds.map(x => x.busyMs - x.maintainMs)) -
          Stats.median(plain.map(x => x.busyMs - x.maintainMs))
      else 0.0
    val heap = Jvm.liveHeapMb()
    val endToEnd = EndToEnd(
      setupS = setupMs / 1000,
      searchP50Ms = Stats.median(searchLat),
      searchQps = timed.map(_.searchMs.size).sum / busyS,
      storeBytesPerVectorByte = bytes.toDouble / (storeRows.length.toLong * Dims * 4),
      liveHeapMb = heap)
    val tail = Stats.highestTail(searchLat).fold("no tail percentile: under 100 samples")(
      { case (p, v) => f"search_p${p.toInt}_ms $v%.1f" })
    val info = Seq(
      s"seed ${ctx.seed}; initial posts $Posts x $ChunksPerPost chunks x $Dims dims; buckets $Buckets; " +
        s"IVF lists $Lists (lloyd iters $LloydIters), k $K, nprobe $NProbe; batch $NewPerRound new + " +
        s"$ReembedPerRound re-embed posts; warm-up rounds $Warmup + $WarmupSearches searches; cpus ${ctx.cpus}",
      f"rounds timed ${timed.size} (${tracedRounds.size} traced) in ${busyS}%.1f s busy; $tail",
      s"search latencies (ms): ${searchLat.map(x => f"$x%.0f").mkString(" ")}",
      f"ingest_batch_p50_ms ${Stats.median(plain.map(_.batchMs))}%.1f",
      f"ingest_rows_per_s ${timed.map(_.rows).sum / busyS}%.2f",
      f"ivf_recall_at_10 ${if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size}%.4f over ${recalls.size} searches",
      f"gc in timed phase ${gcMs}%.0f ms") ++
      ctx.writeTrace("ingest_serve", spans)
    Result(endToEnd, Layers.summarise(spans, gcMs, overhead), tally, info)
  }
}
