package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.core.{CacheRegistry, Dispatch}
import graft.io.TadaIO
import graft.pipeline.{Dedup, Similarity}
import graft.queries.Registry
import graft.streaming.Streams

/** The benchmark's JVM side: one workload, closed loop, one client.
  *
  * {{{
  * Harness --workload frame_ops --data <inputs> --out <dir> --seconds 10 \
  *         --trace 0 --cpus 4 --queries q01,q02,...
  * }}}
  *
  * Runs a cold pass, an untimed correctness pass, then warm passes until
  * `--seconds` have passed and at least three have run (so that `pass_s`
  * is a median), and writes every raw sample to `<out>/result.json`. `perfbench/run.py` turns the samples into metrics.
  * With `--trace 1` the warm passes mix untraced and traced ones (a
  * `SparkListener` attached), a kernel leg times each `GraftFunctions`
  * expression, and on `dedup_corpus` a stream leg replays the ingest
  * streams under a `StreamingQueryListener`.
  */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  final case class Conf(workload: String, data: String, out: String,
                        seconds: Double, trace: Boolean, cpus: Int, queries: Seq[String])

  def parse(args: Array[String]): Conf = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Conf(need("--workload"), need("--data"), need("--out"), need("--seconds").toDouble,
      kv.get("--trace").contains("1"), need("--cpus").toInt,
      kv.get("--queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as Spark's listener event times. */
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def session(c: Conf): SparkSession = {
    val local = new File(c.out, "spark-local").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(c.out, "warehouse").getAbsolutePath)
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads every input file once so the first timed op does not pay for
    * the disk. */
  def warmPageCache(dir: File): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      if (f.isDirectory) warmPageCache(f) else Files.readAllBytes(f.toPath)
    }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def force(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** Releases every cache between ops, as `graft.Bench` does. */
  def release(spark: SparkSession): Unit = {
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
  }

  /** Host load over a window, stamped with `graft.Bench`'s own reader and
    * adjudicator (its snapshot reader is private, so it is called
    * reflectively rather than copied). */
  object Load {
    private val snapM = {
      val m = graft.Bench.getClass.getDeclaredMethod("cpuSnap")
      m.setAccessible(true)
      m
    }
    def snap(): graft.Bench.LoadSnap = snapM.invoke(graft.Bench).asInstanceOf[graft.Bench.LoadSnap]
    def stamp(a: graft.Bench.LoadSnap, b: graft.Bench.LoadSnap, cpus: Int): Map[String, Any] = {
      val ext = graft.Bench.externalCores(a, b)
      val io = graft.Bench.ioStallFraction(a, b, cpus)
      Map("ext_cores" -> ext, "io_stall" -> io, "quiet" -> graft.Bench.quietRun(ext, io))
    }
  }

  // ---------------------------------------------------------------- trace

  /** In-memory spans, written out at the end of the run. A span is a
    * mutable map: id, parent, kind, name, t0, t1 (epoch ms) and counters. */
  object Trace {
    val spans = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
    private var next = 0L
    /** Spans are recorded only while on: in traced passes. */
    @volatile var on = false
    private val jobSpan = mutable.Map.empty[Int, Long]
    private val stageSpan = mutable.Map.empty[Int, mutable.Map[String, Any]]
    val PropKey = "perfbench.span"

    def open(kind: String, name: String, parent: Long, t0: Double = nowMs()): Long = synchronized {
      if (!on) return 0L
      next += 1
      spans(next) = mutable.Map("id" -> next, "parent" -> parent, "kind" -> kind,
        "name" -> name, "t0" -> t0, "t1" -> t0)
      next
    }
    def close(id: Long): Unit = synchronized {
      spans.get(id).foreach(_("t1") = nowMs())
    }

    /** Job → stage → task records, parented to the span named by the
      * submitting thread's local property (stream threads inherit it). */
    val listener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
        val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
          .map(_.toLong).getOrElse(0L)
        val id = open("job", e.jobId.toString, parent, e.time.toDouble)
        jobSpan(e.jobId) = id
        e.stageInfos.foreach { si =>
          val s = spans(open("stage", si.stageId.toString, id, e.time.toDouble))
          s ++= Seq("tasks" -> 0L, "task_ms" -> mutable.ArrayBuffer.empty[Long],
            "cpu_ns" -> 0L, "gc_ms" -> 0L, "shuffle_read" -> 0L, "shuffle_write" -> 0L,
            "spill" -> 0L, "input_rows" -> 0L, "input_bytes" -> 0L, "ran" -> false)
          stageSpan(si.stageId) = s
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
        jobSpan.remove(e.jobId).flatMap(spans.get).foreach(_("t1") = e.time.toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { s =>
          e.stageInfo.submissionTime.foreach(t => s("t0") = t.toDouble)
          e.stageInfo.completionTime.foreach(t => s("t1") = t.toDouble)
          s("ran") = true
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
        for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
          def add(k: String, v: Long): Unit = s(k) = s(k).asInstanceOf[Long] + v
          add("tasks", 1L)
          s("task_ms").asInstanceOf[mutable.ArrayBuffer[Long]] += e.taskInfo.duration
          add("cpu_ns", m.executorCpuTime)
          add("gc_ms", m.jvmGCTime)
          add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
          add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
          add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("input_rows", m.inputMetrics.recordsRead)
          add("input_bytes", m.inputMetrics.bytesRead)
        }
      }
    }

    /** Streaming progress as batch spans under the stream's span. */
    def streamListener(streamSpan: () => Long): StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        synchronized {
          val s = spans(open("batch", p.batchId.toString, streamSpan(), t0))
          s("t1") = t0 + d.getOrElse("triggerExecution", 0L)
          s ++= Seq("input_rows" -> p.numInputRows, "duration_ms" -> d,
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
            "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
            "late_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        }
      }
    }
  }

  // ------------------------------------------------------------------ ops

  /** One batch op: `build` makes the plan (construction, possibly running
    * eager jobs); the pass then forces it. `output` is what the correctness
    * pass writes for the oracle. */
  final case class BatchOp(name: String, build: () => DataFrame,
                           output: DataFrame => DataFrame = identity)

  /** The reference's three comparison ops on the 100k x 10 CSV, through
    * tada's own surface, with DuckDB twins over the same file. */
  def comparisonOps(spark: SparkSession, data: String): Seq[(BatchOp, String)] = {
    val csv = new File(data, "frame.csv").getAbsolutePath
    def frame() = TadaIO.readCsvPath(spark, csv, TadaIO.ReadConfig(inferTypes = true))
    val src = s"read_csv('$csv', header = true)"
    val cols = "k" +: (1 until 10).map(j => s"c$j")
    Seq(
      BatchOp("csv_read", () => frame().df, df => df.select(cols.map(F.col): _*)) ->
        s"SELECT ${cols.mkString(", ")} FROM $src",
      BatchOp("csv_sum_rows", () => frame().stats("sum", c => F.sum(c))) ->
        cols.map(c => s"SELECT '$c' AS col_name, CAST(sum($c) AS DOUBLE) AS sum FROM $src")
          .mkString(" UNION ALL "),
      BatchOp("csv_groupby_sum", () => { val g = frame().groupBy("k").sum("c1"); g.df.select(
        (g.labels ++ g.valueCols).map(F.col): _*) }) ->
        s"SELECT k, sum(c1) AS sum_c1 FROM $src GROUP BY k")
  }

  def registryOps(spark: SparkSession, data: String, ids: Seq[String]): Seq[(BatchOp, String)] =
    ids.map { id =>
      val q = Registry.all.find(_.name.startsWith(id + "_"))
        .getOrElse(sys.error(s"no registered query $id"))
      BatchOp(q.name, () => q.build(spark, data)) ->
        q.oracle.getOrElse(sys.error(s"${q.name} has no oracle SQL"))
    }

  // ------------------------------------------------------------- streams

  /** One stream of the ingest replay: `start` builds the streaming plan on
    * a fresh source; `twin` is the batch answer its output must equal. */
  final case class StreamOp(name: String, start: () => DataFrame, twin: () => DataFrame)

  def streamOps(spark: SparkSession, data: String, out: String): Seq[StreamOp] = {
    val evDir = s"$data/stream/events"
    val docDir = s"$data/stream/docs"
    val evSchema = spark.read.parquet(evDir).schema
    val docSchema = spark.read.parquet(docDir).schema
    def events() = graft.Tables.normalizeEventTs(spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").parquet(evDir))
    def eventsBatch() = graft.Tables.normalizeEventTs(spark.read.parquet(evDir))
    def right(df: DataFrame) = df.filter(F.col("event_id") % 2 =!= 0)
      .select(F.col("event_id").as("r_event_id"), F.col("ts").as("rts"),
        F.col("user_id"), F.col("value").as("r_value"))
    def left(df: DataFrame) = df.filter(F.col("event_id") % 2 === 0)
    val index = s"$out/lsh_index"
    Seq(
      // the horizon spans the whole replay, so exactly one row per key
      StreamOp("dedup_stream",
        () => Streams.dedupStream(events(), "ts", "45 days", Seq("user_id", "event_type"))
          .select("user_id", "event_type"),
        () => eventsBatch().select("user_id", "event_type").distinct()),
      // the last file holds one sentinel event a day later (user -1): it
      // moves the watermark past every real session so all of them close.
      // Its own session never closes, so only the twin drops it; a filter
      // on the stream would be pushed below the watermark and hide it.
      StreamOp("session_counts",
        () => Streams.sessionCounts(events(), "30 minutes", "2 hours"),
        () => eventsBatch().filter(F.col("user_id") =!= -1)
          .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
          .agg(F.count(F.lit(1)).as("n"))
          .select(F.col("session_window.start").as("session_start"),
            F.col("session_window.end").as("session_end"), F.col("user_id"), F.col("n"))),
      StreamOp("interval_join",
        () => Streams.intervalJoin(left(events()), right(events()), "user_id", "ts", "rts",
          lookback = "10 minutes", watermark = "1 hour").select("event_id", "r_event_id"),
        () => {
          val (l, r) = (left(eventsBatch()), right(eventsBatch()))
          l.join(r, l("user_id") === r("user_id") &&
            r("rts") >= l("ts") - F.expr("INTERVAL 10 minutes") && r("rts") <= l("ts"))
            .select("event_id", "r_event_id")
        }),
      StreamOp("dedup_vs_index",
        () => Streams.dedupAgainstIndex(spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", "1").parquet(docDir),
          spark.read.parquet(index), "doc_id", "ts", "text", "30 minutes")
          .select("id_a", "id_b", "jaccard"),
        () => Dedup.incrementalPairs(spark.read.parquet(index),
          Dedup.lshIndex(spark.read.parquet(docDir), "doc_id", "text"), 0.8)
          .select("id_a", "id_b", "jaccard")))
  }

  /** Runs one stream to the end of its files (one file per micro-batch)
    * into the memory sink `sink` and returns the per-batch progress. */
  def runStream(spark: SparkSession, op: StreamOp, ckpt: String, sink: String): Seq[Map[String, Any]] = {
    val q = op.start().writeStream.outputMode("append").format("memory").queryName(sink)
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.toSeq.map { p =>
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "latency_s" -> p.durationMs.getOrDefault("triggerExecution", 0L).longValue / 1000.0)
    }
  }

  // ---------------------------------------------------------- kernel leg

  /** rows/s of each `GraftFunctions.builders` expression over the seeded
    * corpus columns, cached first so the scan is not what is timed, with
    * whole-stage codegen on; plus q55's candidate-pair count. */
  def kernelLeg(spark: SparkSession, data: String): Map[String, Any] = {
    val reps = 20
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select(F.col("doc_id").as("id"), F.col("text"), F.col("n_chars").cast("double").as("x"))
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    val e = emb.select(F.col("vec_id").as("id"), F.col("embedding").as("v1"))
    val (nd, ne) = (docs.count(), e.count())
    def shingles(text: String) = F.call_function("shingle_w", F.split(F.col(text), " "), F.lit(3))
    // each doc paired with the next doc and each vector with the next vector
    val base = docs.join(e, "id")
      .join(docs.select(((F.col("id") + nd - 1) % nd).as("id"), F.col("text").as("text2")), "id")
      .join(e.select(((F.col("id") + ne - 1) % ne).as("id"), F.col("v1").as("v2")), "id")
      .select(F.col("id"), F.col("text"), F.split(F.col("text"), " ").as("tokens"),
        shingles("text").as("sh"), shingles("text2").as("sh2"), F.col("x"), F.col("v1"), F.col("v2"))
    val rows = spark.range(reps).toDF("rep").crossJoin(base)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val nrows = rows.count()
    val bounds = rows.stat.approxQuantile("x", Array(0.1, 0.25, 0.5, 0.75, 0.9), 0.0)
      .distinct.sorted
    val sketch = docs.select(F.call_function("bloom_sketch_agg", F.xxhash64(F.col("id")),
      F.lit(nd), F.lit(nd * 16))).head().getAs[Array[Byte]](0)
    val exprs = Seq(
      "simhash64" -> F.call_function("simhash64", F.col("tokens")),
      "cosine_sim" -> F.call_function("cosine_sim", F.col("v1"), F.col("v2")),
      "jaccard_sim" -> F.call_function("jaccard_sim", F.col("sh"), F.col("sh2")),
      "shingle_w" -> F.call_function("shingle_w", F.col("tokens"), F.lit(3)),
      "text_quality_stats" -> F.call_function("text_quality_stats", F.col("text")),
      "dup_ngram_stats" -> F.call_function("dup_ngram_stats", F.col("text")),
      "minhash_bands" -> F.call_function("minhash_bands", F.col("sh"), F.lit(32), F.lit(8)),
      "boundary_bucket" -> F.call_function("boundary_bucket", F.col("x"), F.lit(bounds)),
      "bloom_might_contain" -> F.call_function("bloom_might_contain", F.lit(sketch),
        F.xxhash64(F.col("rep"), F.col("id"))))
    require(exprs.map(_._1).toSet == graft.exprs.GraftFunctions.builders.map(_._1).toSet - "bloom_sketch_agg",
      "kernel leg out of step with GraftFunctions.builders")
    val rates = exprs.map { case (name, e) =>
      val df = rows.select(e.as("k"))
      force(df) // compile once
      val t = (1 to 3).map { _ => val t0 = System.nanoTime(); force(df); (System.nanoTime() - t0) / 1e9 }
      name -> nrows / t.sorted.apply(1)
    }.toMap
    rows.unpersist()
    val pairs = Similarity.cosinePairsCompleteStats(emb, 0.4).head().getAs[Long]("candidate_pairs")
    Map("rows" -> nrows, "rows_per_s" -> rates, "candidate_pairs" -> pairs)
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    new File(c.out).mkdirs()
    val spark = session(c)
    graft.exprs.GraftFunctions.register(spark)
    warmPageCache(new File(c.data))
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    println(f"[perfbench] setup $setupS%.3f s")
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    run(spark, c, result)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(c.out, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }

  /** Runs `body` with the job listener attached and spans recorded when
    * `on`; waits for the listener bus before detaching. */
  def traced[T](on: Boolean)(body: => T)(implicit spark: SparkSession): T = {
    val sc = spark.sparkContext
    Trace.on = on
    if (on) sc.addSparkListener(Trace.listener)
    try body finally if (on) {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(Trace.listener)
      Trace.on = false
    }
  }

  def run(implicit spark: SparkSession, c: Conf, result: mutable.Map[String, Any]): Unit = {
    val sc = spark.sparkContext
    val batch: Seq[(BatchOp, String)] = registryOps(spark, c.data, c.queries) ++
      (if (c.workload == "frame_ops") comparisonOps(spark, c.data) else Nil)
    Trace.on = c.trace
    val runSpan = Trace.open("run", c.workload, 0L)
    Trace.on = false
    val errors = mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, e: Throwable): Unit = errors(name) = String.valueOf(e.getMessage).take(300)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def onePass(kind: String, tracedPass: Boolean, idx: Int): Unit = traced(tracedPass) {
      val passSpan = Trace.open("pass", s"$kind-$idx", runSpan)
      val t0 = nowMs()
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      for ((op, _) <- batch) {
        val opSpan = Trace.open("op", op.name, passSpan)
        Dispatch.drain()
        val rec = mutable.LinkedHashMap[String, Any]("name" -> op.name)
        try {
          val bSpan = Trace.open("build", op.name, opSpan)
          sc.setLocalProperty(Trace.PropKey, bSpan.toString)
          val b0 = nowMs()
          val df = op.build()
          val b1 = nowMs()
          Trace.close(bSpan)
          val fSpan = Trace.open("force", op.name, opSpan)
          sc.setLocalProperty(Trace.PropKey, fSpan.toString)
          force(df)
          val f1 = nowMs()
          Trace.close(fSpan)
          rec ++= Seq("build_s" -> (b1 - b0) / 1000.0, "force_s" -> (f1 - b1) / 1000.0,
            "latency_s" -> (f1 - b0) / 1000.0, "ok" -> true)
          if (tracedPass) rec ++= Seq(
            "cache_bytes" -> CacheRegistry.trackedBytes(spark).map(_._2).sum,
            "cache_tags" -> CacheRegistry.trackedTags)
        } catch { case e: Throwable => fail(op.name, e); rec("ok") = false }
        finally sc.setLocalProperty(Trace.PropKey, null)
        val notes = Dispatch.drain()
        if (tracedPass) rec("dispatch") = notes.map { case (o, f) => s"$o=$f" }
        release(spark)
        Trace.close(opSpan)
        ops += rec.toMap
      }
      val wall = (nowMs() - t0) / 1000.0
      Trace.close(passSpan)
      passes += Map("kind" -> kind, "traced" -> tracedPass, "wall_s" -> wall, "ops" -> ops.toSeq)
      println(f"[perfbench] pass $kind-$idx traced=$tracedPass wall=$wall%.3f s")
    }

    val load0 = Load.snap()
    onePass("cold", tracedPass = false, 0)

    // The correctness pass, untimed. It runs right after the cold pass,
    // while the JIT is still compiling, so that it also settles the JVM
    // before the warm passes.
    val verify = new File(c.out, "verify")
    verify.mkdirs()
    for ((op, _) <- batch) try {
      op.output(op.build()).repartition(1).write.mode("overwrite").parquet(s"$verify/${op.name}")
      release(spark)
    } catch { case e: Throwable => fail(op.name, e) }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(verify.getPath, "oracle_sql.json"),
      mapper.writeValueAsString(batch.map { case (op, q) => op.name -> q }.toMap))

    // With tracing, whole groups of four warm passes in the order
    // untraced, traced, traced, untraced, so the remaining drift in pass
    // time cancels out of the tracing overhead.
    val warm0 = nowMs()
    var i = 0
    def more = (nowMs() - warm0) / 1000.0 < c.seconds
    while (if (c.trace) i < 4 || i % 4 != 0 || more else i < 3 || more) {
      i += 1
      onePass("warm", tracedPass = c.trace && (i % 4 == 2 || i % 4 == 3), i)
    }
    result("load") = Load.stamp(load0, Load.snap(), c.cpus)
    result("peak_rss_mb") = peakRssMb()
    result("passes") = passes.toSeq

    if (c.trace) {
      result("kernels") = kernelLeg(spark, c.data)
      if (c.workload == "dedup_corpus") streamLeg(c, runSpan, result, fail)
      Trace.close(runSpan)
      result("spans") = Trace.spans.values.map(_.toMap).toSeq
    }
    result("errors") = errors.toMap
  }

  /** The ingest replay, run once after the passes of a traced run: each
    * stream to the end of its files into a memory sink, with a
    * `StreamingQueryListener` recording one span per micro-batch, then its
    * output compared with the stream's batch twin. */
  def streamLeg(c: Conf, runSpan: Long, result: mutable.Map[String, Any],
                fail: (String, Throwable) => Unit)(implicit spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    Dedup.lshIndex(spark.read.parquet(s"${c.data}/stream/docs_base.parquet"), "doc_id", "text")
      .write.mode("overwrite").parquet(s"${c.out}/lsh_index")
    var streamSpan = 0L
    val listener = Trace.streamListener(() => streamSpan)
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val twins = mutable.LinkedHashMap.empty[String, Boolean]
    for (op <- streamOps(spark, c.data, c.out)) {
      val sink = s"leg_${op.name}"
      twins(op.name) = try {
        traced(on = true) {
          spark.streams.addListener(listener)
          streamSpan = Trace.open("stream", op.name, runSpan)
          sc.setLocalProperty(Trace.PropKey, streamSpan.toString)
          try runStream(spark, op, s"${c.out}/ckpt/leg-${op.name}", sink)
            .foreach(b => batches += b + ("stream" -> op.name))
          finally {
            sc.setLocalProperty(Trace.PropKey, null)
            org.apache.spark.PerfbenchBus.drain(sc)
            spark.streams.removeListener(listener)
            Trace.close(streamSpan)
          }
        }
        def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
        val (got, want) = (rows(spark.table(sink)), rows(op.twin()))
        if (got != want) fail(op.name, new RuntimeException(
          s"stream ${got.size} rows vs batch twin ${want.size}; " +
            s"extra=${got.diff(want).take(3)} missing=${want.diff(got).take(3)}"))
        got == want
      } catch { case e: Throwable => fail(op.name, e); false }
      release(spark)
    }
    result("stream_batches") = batches.toSeq
    result("stream_twins") = twins.toMap
  }
}
