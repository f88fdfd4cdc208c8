package servebench

/** The per-layer metrics of a traced run, summarised from its spans.
  * Every workload reports the same names; a layer a workload does not
  * call reports 0 (that workload bypasses it). Per-call values are the
  * median over the traced calls. */
object Layers {
  private val read = "sources.EmbeddingStore.read"
  private val candidates = "query.QueryCompiler.candidatePosts"
  private val search = "operators.SearchEngine.search"
  private val exec = s"$search.exec"
  private val upsert = "sources.EmbeddingStore.upsert"
  private val ivf = "sources.IvfIndex"

  /** One traced run as the metrics see it: its spans by name, GC time in
    * the timed phase, and the tracing overhead per operation (median
    * traced minus median untraced operation latency). */
  final class Run(spans: Seq[Span], val gcMs: Double, val overheadMs: Double) {
    private val byName = spans.groupBy(_.name)
    /** Median of `f` over the spans named `name`; 0 when there are none. */
    def per(name: String)(f: Span => Double): Double =
      byName.get(name).fold(0.0)(ss => Stats.median(ss.map(f)))
  }

  private def at(name: String)(f: Span => Double): Run => Double = _.per(name)(f)
  private def ms(name: String): Run => Double = at(name)(_.ms)
  private def counter(name: String, key: String): Run => Double = at(name)(_.get(key))

  /** (name, unit, value) of every per-layer metric, in output order. */
  val metrics: Seq[(String, String, Run => Double)] = Seq(
    (s"$read.ms", "ms", ms(read)),
    (s"$read.jobs", "count", counter(read, "jobs")),
    (s"$candidates.ms", "ms", ms(candidates)),
    (s"$candidates.rows_out", "count", counter(exec, "candidate_rows")),
    (s"$search.plan_ms", "ms", ms(search)),
    (s"$search.exec_ms", "ms", ms(exec)),
    (s"$search.jobs", "count", counter(exec, "jobs")),
    (s"$search.sql_execs", "count", counter(exec, "sql_execs")),
    (s"$search.outside_jobs_ms", "ms", at(exec)(_.outsideJobsMs)),
    (s"$search.task_cpu_ms", "ms", counter(exec, "task_cpu_ms")),
    (s"$search.hamming_rows_in", "count", at(exec)(s =>
      if (s.get("sketch_rows_kept") > 0) s.get("sketch_rows_kept") else s.get("sketch_rows_scanned"))),
    (s"$search.rerank_rows_scanned", "count", counter(exec, "vector_rows_scanned")),
    (s"$search.rerank_rows_kept", "count", counter(exec, "vector_rows_kept")),
    (s"$upsert.ms", "ms", ms(upsert)),
    (s"$upsert.jobs", "count", counter(upsert, "jobs")),
    (s"$upsert.sql_execs", "count", counter(upsert, "sql_execs")),
    (s"$upsert.buckets_rewritten", "count", counter(upsert, "buckets_rewritten")),
    (s"$upsert.bytes_written_per_byte_upserted", "B/B", at(upsert)(s =>
      s.get("bytes_written") / math.max(1.0, s.get("bytes_upserted")))),
    (s"$ivf.delete.ms", "ms", ms(s"$ivf.delete")),
    (s"$ivf.delete.jobs", "count", counter(s"$ivf.delete", "jobs")),
    (s"$ivf.delete.sql_execs", "count", counter(s"$ivf.delete", "sql_execs")),
    (s"$ivf.append.ms", "ms", ms(s"$ivf.append")),
    (s"$ivf.append.jobs", "count", counter(s"$ivf.append", "jobs")),
    (s"$ivf.append.sql_execs", "count", counter(s"$ivf.append", "sql_execs")),
    (s"$ivf.fileStats.files_per_list", "count", counter(s"$ivf.fileStats", "files_per_list")),
    (s"$ivf.maintain.ms", "ms", ms(s"$ivf.maintain")),
    (s"$ivf.search.ms", "ms", ms(s"$ivf.search")),
    (s"$ivf.search.jobs", "count", counter(s"$ivf.search", "jobs")),
    ("operators.EmbedQueue.claimBatch.ms", "ms", ms("operators.EmbedQueue.claimBatch")),
    ("operators.EmbedQueue.complete.ms", "ms", ms("operators.EmbedQueue.complete")),
    ("sources.EmbeddingStore.bulkLoad.ms", "ms", ms("sources.EmbeddingStore.bulkLoad")),
    ("operators.Ann.lloydTrain.ms", "ms", ms("operators.Ann.lloydTrain")),
    (s"$ivf.build.ms", "ms", ms(s"$ivf.build")),
    ("jvm.gc_ms", "ms", _.gcMs),
    ("trace.overhead_ms", "ms", _.overheadMs))

  /** The per-layer metrics of a traced run. */
  def summarise(spans: Seq[Span], gcMs: Double, overheadMs: Double): Seq[Metric] = {
    val run = new Run(spans, gcMs, overheadMs)
    metrics.map { case (name, unit, value) => Metric(name, value(run), unit) }
  }

  /** "Where the time goes": per span name, calls, total and self time
    * (duration minus the direct children's), jobs, SQL executions, GC. */
  def table(spans: Seq[Span]): Seq[String] = {
    val children = spans.groupBy(_.parent)
    val rows = spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map(s => s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum).sum
      (name, ss.size, total, self, ss.map(_.get("jobs")).sum,
        ss.map(_.get("sql_execs")).sum, ss.map(_.get("gc_ms")).sum)
    }.sortBy(-_._4)
    val allSelf = math.max(1e-9, rows.map(_._4).sum)
    f"${"span"}%-44s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s ${"self%"}%6s ${"jobs"}%6s ${"sql"}%5s ${"gc_ms"}%7s" +:
      rows.map { case (n, c, t, s, j, q, g) =>
        f"$n%-44s $c%6d $t%10.1f $s%10.1f ${100 * s / allSelf}%6.1f ${j.toInt}%6d ${q.toInt}%5d $g%7.1f"
      }
  }

  /** One JSON object per span, for offline analysis. */
  def spanLines(spans: Seq[Span]): Seq[String] = spans.map { s =>
    Json.obj(Seq(
      "id" -> s.id.toString, "op" -> s.op.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "thread" -> Json.str(s.thread),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "dur_ms" -> Json.num(s.ms), "outside_jobs_ms" -> Json.num(s.outsideJobsMs),
      "counters" -> Json.obj(s.counterMap.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
  }
}
