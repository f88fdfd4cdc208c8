package servebench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, Row => SRow}
import org.apache.spark.sql.types._

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** The end-to-end metrics every workload reports. */
final case class EndToEnd(setupS: Double, searchP50Ms: Double, searchQps: Double,
    storeBytesPerVectorByte: Double, liveHeapMb: Double) {
  def metrics: Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("search_p50_ms", searchP50Ms, "ms"),
    Metric("search_qps", searchQps, "1/s"),
    Metric("store_bytes_per_vector_byte", storeBytesPerVectorByte, "B/B"),
    Metric("live_heap_mb", liveHeapMb, "MiB"))
}

/** What a workload run reports. `layers` comes from [[Layers.summarise]];
  * `info` lines are printed for people and not parsed. */
final case class Result(endToEnd: EndToEnd, layers: Seq[Metric], tally: Tally,
    info: Seq[String])

/** Run settings shared by the workloads. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, cpus: Int) {
  val tracer: Tracer = new Tracer(spark, trace)

  /** Write a traced run's spans to `out`; return the report lines. */
  def writeTrace(workload: String, spans: Seq[Span]): Seq[String] =
    if (!trace) Nil
    else {
      val f = java.nio.file.Paths.get(out, s"$workload-seed$seed-spans.jsonl")
      java.nio.file.Files.write(f, Layers.spanLines(spans).mkString("", "\n", "\n").getBytes("UTF-8"))
      s"spans written to $f" +: "where the time goes (traced operations):" +: Layers.table(spans)
    }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <scratch dir> --out <trace dir> --cpus <n>`. Writes the result
  * object to `<work>/result.json`, spans of a traced run to `<out>`, and
  * a readable report to stdout. */
object Main {
  val workloads: Map[String, Ctx => Result] = Map(
    "search_filtered" -> SearchFiltered.run,
    "ingest_serve" -> IngestServe.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val workload = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val cpus = need("cpus").toInt
    val work = need("work")
    val builder = graft.util.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName(s"servebench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps every job, stage, task and SQL plan up to
      // these caps; low caps, reached early in every run, keep the live
      // heap independent of how many operations a run completed
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = Ctx(spark, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      work, need("out"), cpus)
    val result = try workload(ctx) finally spark.stop()
    report(name, ctx, result)
  }

  private def report(name: String, ctx: Ctx, r: Result): Unit = {
    val t = r.tally
    r.info.foreach(l => println(s"[$name] $l"))
    t.failures.foreach(f => println(s"[$name] FAILED: $f"))
    println(f"[$name] error_rate ${t.errorRate}%.6f (${t.failed} failed of ${t.attempted} attempted)")
    (r.endToEnd.metrics ++ (if (ctx.trace) r.layers else Nil)).foreach(m =>
      println(f"[$name] ${m.name}%-58s ${m.value}%14.4f ${m.unit}"))
    val shown = if (ctx.trace) r.layers else r.endToEnd.metrics
    val json = Json.obj(Seq(
      "correct" -> Json.bool(t.failed == 0 && t.attempted > 0),
      "attempted" -> t.attempted.toString,
      "failed" -> t.failed.toString,
      "metrics" -> Json.obj(shown.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    val p = java.nio.file.Paths.get(ctx.work, "result.json")
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a number")
    d.toString
  }
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Helpers the workloads share. */
object Util {
  def now(): Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, msSince(t0))
  }

  val chunkSchema: StructType = StructType(Seq(
    StructField("post_id", LongType, nullable = false),
    StructField("sequence_no", IntegerType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("vector_type", StringType, nullable = false)))

  /** Raw chunk rows as the embedding model's output frame. */
  def chunkFrame(spark: SparkSession, chunks: Seq[Chunk]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(chunks.map(c => SRow(c.postId, c.seq, c.vec.toSeq, "bench")): _*),
      chunkSchema)

  /** Write the generated inputs as parquet: raw chunks, posts, postmeta. */
  def writeInputs(spark: SparkSession, dir: String, chunks: Seq[Chunk],
      posts: Seq[PostRow], meta: Seq[MetaRow]): Unit = {
    import spark.implicits._
    chunkFrame(spark, chunks).write.parquet(s"$dir/raw")
    posts.map(p => (p.id, p.postType, p.postStatus, p.postDate, p.author, p.commentCount))
      .toDF("ID", "post_type", "post_status", "post_date", "post_author", "comment_count")
      .coalesce(1).write.parquet(s"$dir/posts")
    meta.map(m => (m.postId, m.key, m.value)).toDF("post_id", "meta_key", "meta_value")
      .coalesce(1).write.parquet(s"$dir/postmeta")
  }

  /** Bytes of the visible data files under `dir` (hidden and
    * underscore-prefixed bookkeeping files excluded). */
  def dataBytes(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Long = fs.listStatus(p).iterator
      .filterNot(s => s.getPath.getName.startsWith(".") || s.getPath.getName.startsWith("_"))
      .map(s => if (s.isDirectory) walk(s.getPath) else s.getLen).sum
    if (fs.exists(root)) walk(root) else 0L
  }

  /** The `id` column of collected result rows, in order. */
  def ids(rows: Array[SRow]): Seq[Long] = rows.map(r => r.getLong(r.fieldIndex("id"))).toSeq

  def mismatch(what: String, got: Seq[Long], want: Seq[Long]): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.mkString(",")} want ${want.mkString(",")}")
}
