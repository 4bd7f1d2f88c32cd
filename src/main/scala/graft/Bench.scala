package graft

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR; a compact JSON line on stdout, the full record
  * in BENCH_DETAIL.json. The host's load comes and goes (identical full
  * runs measured 46 s and 673 s minutes apart), so the bench covers
  * every query first and judges each number afterwards from what it
  * recorded; it never steers around load while it runs.
  *
  *  - Schedule: a plain loop of rounds. Round 0 runs every query once,
  *    in registry order, and always finishes (only the hard deadline can
  *    cut it), so no query is deferred, skipped or dropped to protect
  *    the budget. Round 1 re-runs every query, so each min is a warm rep
  *    (JIT, codegen, page cache). Later rounds re-run the adjudicator's
  *    retry targets while the budget lasts: a storm is answered by
  *    re-running what it dirtied, never by waiting. Before a rep the
  *    loop takes a canary point if the newest is older than
  *    [[CanaryFreshSec]], so every rep ends near one.
  *  - Rep log: append-only, one [[Rep]] per timed run, shipped raw in
  *    BENCH_DETAIL as `reps` next to the canary series.
  *  - Adjudicator: [[adjudicate]] is a pure function of the log, the
  *    series and the core count. Every verdict in the artifact comes
  *    from it, so an emitted BENCH_DETAIL re-adjudicates to itself.
  *
  * Guards: a per-rep watchdog cancels the rep's jobs past its slice (a
  * hang costs one slice, not the artifact). A deadline thread at budget
  * + 90 s emits and `halt`s, so the line lands before any external
  * timeout and no shutdown-hook log torrent can push it out of the
  * captured tail. A shutdown hook emits on an external SIGTERM.
  */
object Bench {

  /** One query's op→forms dispatch tags as a JSON object fragment (ops
    * and forms are code-authored identifiers — no escaping needed). */
  private[graft] def dispatchJson(forms: Seq[(String, String)]): String =
    forms.groupBy(_._1).toSeq.sortBy(_._1).map { case (op, fs) =>
      "\"" + op + "\":\"" + fs.map(_._2).distinct.sorted.mkString(",") + "\""
    }.mkString("{", ",", "}")

  /** One query's non-zero tag→bytes snapshot as a JSON object fragment
    * (tags are JSON-safe dotted identifiers, enforced by CacheRegistry). */
  private[graft] def tagBytesJson(bytes: Seq[(String, Long)]): String =
    bytes.map { case (t, b) => "\"" + t + "\":" + b }.mkString("{", ",", "}")

  /** The timing path, named once: `force` dispatches on it and the
    * artifact's `forced` / `force_method` derive from it, so the claim
    * cannot drift from the path. "toRdd" executes the query's own
    * physical plan at the InternalRow level: no logical rewrite prunes
    * work the way `count()` did, and nothing is collected. */
  private[graft] val ForceMethod = "toRdd"
  private[graft] def forcedClaim: Boolean = ForceMethod == "toRdd"
  private def force(df: DataFrame): Unit = ForceMethod match {
    case "toRdd" => df.queryExecution.toRdd.foreach(_ => ())
    case other => throw new IllegalStateException(
      s"unknown ForceMethod '$other' — update force() AND the artifact flag together")
  }

  /** Runs whose external competition exceeds this many cores are
    * load-contaminated: they cannot settle a query or certify a min.
    * Loaded windows measured ~6 external cores, clean ones ~0. */
  val ExtQuiet = 2.0

  /** IO/memory stall share of a window above which the run is dirty: a
    * disk-thrashing co-tenant shows ~0 external cpu, and only PSI stall
    * and machine iowait see it. */
  val IoQuiet = 0.05

  /** One load snapshot. busy = machine busy jiffies with idle+iowait
    * excluded; iowait = machine iowait jiffies; psiIo/psiMem = PSI
    * `some total=` stall micros from /proc/pressure/{io,memory}; proc =
    * this JVM's cpu ns; wall ns. Unreadable sources are -1 and read as
    * quiet. /proc/pressure/cpu is NOT used: our own bench keeps it high,
    * so it cannot separate self from tenant. */
  final case class LoadSnap(busy: Long, iowait: Long, psiIo: Long,
                            psiMem: Long, proc: Long, wall: Long)

  private def psiSomeTotal(path: String): Long =
    try scala.io.Source.fromFile(path).getLines()
      .find(_.startsWith("some")).get.split("total=")(1).trim.toLong
    catch { case _: Throwable => -1L }

  /** The fixed host-speed probe job. The decimal accumulator matters:
    * summing raw 64-bit hashes overflows ANSI long addition at once. */
  private[graft] def canaryJob(spark: SparkSession): Unit =
    spark.range(50000000L)
      .selectExpr("sum(cast(xxhash64(id) as decimal(38,0)))").collect()

  private[graft] def cpuSnap(): LoadSnap = {
    val (busy, iow) =
      try {
        val parts = scala.io.Source.fromFile("/proc/stat").getLines().next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        // user+nice+system+irq+softirq+steal; idle(3)+iowait(4) excluded
        (parts.indices.collect { case i if i != 3 && i != 4 => parts(i) }.sum,
          if (parts.length > 4) parts(4) else -1L)
      } catch { case _: Throwable => (-1L, -1L) }
    val proc =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
      catch { case _: Throwable => -1L }
    LoadSnap(busy, iow, psiSomeTotal("/proc/pressure/io"),
      psiSomeTotal("/proc/pressure/memory"), proc, System.nanoTime())
  }

  /** External cores busy between two snapshots: (machine busy CPU −
    * our own CPU) / wall. Pure; USER_HZ=100. Unmeasurable ⇒ 0. */
  def externalCores(a: LoadSnap, b: LoadSnap): Double = {
    if (a.busy < 0 || b.busy < 0 || a.proc < 0 || b.proc < 0) return 0.0
    val wallSec = (b.wall - a.wall) / 1e9
    if (wallSec <= 0.01) return 0.0
    val busySec = (b.busy - a.busy) / 100.0
    val procSec = (b.proc - a.proc) / 1e9
    math.max(0.0, (busySec - procSec) / wallSec)
  }

  /** IO-contention share of a window: the max of (a) the PSI some-stall
    * fraction for io and memory — the wall share in which ≥1 task sat in
    * D-state / reclaim, as a disk-thrashing co-tenant causes — and (b)
    * machine iowait cores normalized by cpu count. Pure; unmeasurable
    * sources contribute 0. Self vs tenant is not attributed: our own
    * cold reads in round 0 only make those reps retry targets. */
  def ioStallFraction(a: LoadSnap, b: LoadSnap, cpus: Int): Double = {
    val wallSec = (b.wall - a.wall) / 1e9
    if (wallSec <= 0.01) return 0.0
    val psi = Seq((a.psiIo, b.psiIo), (a.psiMem, b.psiMem)).map { case (x, y) =>
      if (x < 0 || y < 0) 0.0 else math.max(0.0, (y - x) / 1e6 / wallSec)
    }.max
    val iow =
      if (a.iowait < 0 || b.iowait < 0) 0.0
      else math.max(0.0, (b.iowait - a.iowait) / 100.0 / wallSec / math.max(1, cpus))
    math.max(psi, iow)
  }

  /** A run is load-clean only when BOTH axes are quiet: external cpu
    * competition and io/memory stall. */
  def quietRun(extCores: Double, ioStall: Double): Boolean =
    extCores <= ExtQuiet && ioStall <= IoQuiet

  /** Pure settle rule: a cost is real, not load, once a quiet re-run
    * agrees with the min before it within ±10% BOTH ways (accepting a
    * WORSE re-run would let a spike spanning two reps settle itself). */
  def settledAfterRun(dt: Double, prevMin: Double, extCores: Double,
                      ioStall: Double = 0.0): Boolean =
    dt >= prevMin * 0.9 && dt <= prevMin * 1.1 && quietRun(extCores, ioStall)

  /** A canary point further than this from a rep cannot judge it:
    * micro-storms fit between samples. The schedule refreshes the series
    * before any rep whose newest point is older than this. */
  val CanaryFreshSec = 30.0
  /** A rep whose nearest fresh canary point reads at least this many
    * times the window's clamped best ran in a storm. */
  val DirtyCanaryRatio = 1.5
  /** The watchdog's one base slice, and the most host slowness may
    * stretch it: a fixed slice under a 10× stall cancels clean queries. */
  val BaseSliceSec = 60.0
  val MaxSliceScale = 8.0
  def scaledSlice(baseSec: Double, slowness: Double): Double =
    baseSec * math.min(MaxSliceScale, math.max(1.0, slowness))

  /** Upper bound on a CLEAN canary second (~0.42 s clean at 32 cores,
    * ~0.75 s at 8): a storm spanning the whole window inflates every
    * point, so a series-relative ratio reads ~1.0 when it is dirtiest;
    * clamping the best to this ceiling lets it still read slow. */
  def cleanCanaryCeiling(cpus: Int): Double = if (cpus >= 16) 1.5 else 3.0

  /** The best canary second slowness ratios divide by: the series
    * minimum, clamped to the clean ceiling. */
  def clampedBest(seriesMin: Double, cpus: Int): Double =
    math.max(1e-9, math.min(seriesMin, cleanCanaryCeiling(cpus)))

  /** Slowness of the canary point nearest wall-second t, against the
    * clamped best; None when unmeasurable — fewer than two points (a
    * lone point may itself be inflated) or none within [[CanaryFreshSec]]. */
  def slownessNear(series: Seq[(Double, Double)], t: Double, cpus: Int): Option[Double] =
    if (series.size < 2) None
    else {
      val (pt, sec) = series.minBy { case (p, _) => math.abs(p - t) }
      if (math.abs(pt - t) > CanaryFreshSec) None
      else Some(math.max(1.0, sec / clampedBest(series.map(_._2).min, cpus)))
    }

  /** One timed run. `t` is the wall second (from bench start) at which
    * it ended; `dt = build_s + force_s`; `err` is "" on success. The
    * dispatch and cache-bytes fragments ride along for the artifact's
    * per-query maps; they play no part in adjudication. */
  final case class Rep(q: String, round: Int, t: Double, dt: Double, ok: Boolean,
                       err: String, ext: Double, io: Double, buildS: Double,
                       forceS: Double, dispatch: String = "", cacheBytes: String = "")

  /** Everything the artifact asserts about the queries. `atMin` is the
    * rep that set each min; `retry` is what the next round re-runs. */
  final case class Verdict(queries: Map[String, Double], first: Map[String, Double],
                           atMin: Map[String, Rep], failed: Seq[String],
                           failedDirty: Seq[String], errors: Map[String, String],
                           dirtyAtMin: Seq[String], settled: Set[String], retry: Set[String]) {
    def loaded: Boolean = dirtyAtMin.nonEmpty
    def names: Seq[String] = (queries.keys ++ failed).toSeq.sorted
    def total: Double = queries.values.sum
  }

  /** Pure verdict over a rep log (in run order) and canary series.
    *  - Only successful reps set a min; a query with none is `failed`,
    *    and `errors` holds its last rep's error.
    *  - A rep is clean when quiet on ext/io AND its nearest fresh canary
    *    point reads under [[DirtyCanaryRatio]] (an unmeasured window
    *    does not flag). A >1 s min is `dirtyAtMin` unless some clean
    *    rep lands within 10% of it: such a number is an upper bound.
    *  - A failure is `failedDirty` unless one of its cancellations was
    *    provably clean: quiet, with a fresh canary point reading clean.
    *  - Settled: some rep passed [[settledAfterRun]] against the min of
    *    the reps before it.
    *  - Retry: failed, dirty at min, or an unsettled >1 s min. */
  def adjudicate(reps: Seq[Rep], canarySeries: Seq[(Double, Double)], cpus: Int): Verdict = {
    def canaryDirty(t: Double) = slownessNear(canarySeries, t, cpus).exists(_ >= DirtyCanaryRatio)
    def clean(r: Rep) = quietRun(r.ext, r.io) && !canaryDirty(r.t)
    def provablyClean(r: Rep) = quietRun(r.ext, r.io) &&
      slownessNear(canarySeries, r.t, cpus).exists(_ < DirtyCanaryRatio)
    val byQ = reps.groupBy(_.q)
    val oks = byQ.view.mapValues(_.filter(_.ok)).toMap
    val atMin = oks.collect { case (q, rs) if rs.nonEmpty => q -> rs.minBy(_.dt) }
    val failed = byQ.keys.filterNot(atMin.contains).toSeq.sorted
    val settled = oks.collect { case (q, rs) if rs.indices.drop(1).exists { i =>
      settledAfterRun(rs(i).dt, rs.take(i).map(_.dt).min, rs(i).ext, rs(i).io) } => q }.toSet
    val dirtyAtMin = atMin.collect { case (q, m)
      if m.dt > 1.0 && !oks(q).exists(r => r.dt <= m.dt * 1.1 && clean(r)) => q }.toSeq.sorted
    val unsettled = atMin.collect { case (q, m) if m.dt > 1.0 && !settled(q) => q }
    Verdict(
      queries = atMin.map { case (q, r) => q -> r.dt },
      first = byQ.collect { case (q, rs) if rs.head.ok => q -> rs.head.dt },
      atMin = atMin,
      failed = failed,
      failedDirty = failed.filterNot(q => byQ(q).exists(provablyClean)),
      errors = failed.map(q => q -> byQ(q).last.err).toMap,
      dirtyAtMin = dirtyAtMin,
      settled = settled,
      retry = failed.toSet ++ dirtyAtMin ++ unsettled)
  }

  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  // rounded at record time, so the emitted log is the adjudicated log
  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0
  private def canarySec(series: Seq[(Double, Double)]) = if (series.isEmpty) -1.0 else series.map(_._2).min

  private def repJson(r: Rep): String = obj(Seq("q" -> str(r.q), "round" -> r.round.toString,
    "t" -> r.t.toString, "dt" -> r.dt.toString, "ok" -> r.ok.toString, "err" -> str(r.err),
    "ext" -> r.ext.toString, "io" -> r.io.toString, "build_s" -> r.buildS.toString,
    "force_s" -> r.forceS.toString))

  /** The full artifact: the verdict's fields, the raw log and series,
    * then the run's `env` fields (partial, load, cache audit, sf). */
  private[graft] def detailJson(v: Verdict, reps: Seq[Rep], series: Seq[(Double, Double)],
                                env: Seq[(String, String)]): String = {
    def perQuery(f: String => Double) = obj(v.names.map(q => q -> f(q).toString))
    // per-rep provenance maps cover the >0.5 s mins, the ones worth adjudicating
    val adj = v.names.filter(q => v.queries.getOrElse(q, 0.0) > 0.5)
    def atMin(f: Rep => Double) = obj(adj.map(q => q -> f(v.atMin(q)).toString))
    def lastNonEmpty(f: Rep => String) =
      obj(v.names.flatMap(q => reps.filter(r => r.q == q && f(r).nonEmpty).lastOption.map(r => q -> f(r))))
    obj(Seq(
      "metric" -> str("total"), "value" -> v.total.toString, "unit" -> str("sec"),
      "queries" -> perQuery(q => v.queries.getOrElse(q, -1.0)),
      "first" -> perQuery(q => v.first.getOrElse(q, -1.0)),
      "failed" -> arr(v.failed.map(str)), "failed_dirty" -> arr(v.failedDirty.map(str)),
      "errors" -> obj(v.errors.toSeq.sorted.map { case (q, e) => q -> str(e) }),
      "loaded" -> v.loaded.toString,
      "ext_load_at_min" -> atMin(_.ext), "io_stall_at_min" -> atMin(_.io),
      "min_at" -> atMin(_.t), "build_at_min" -> atMin(_.buildS), "force_at_min" -> atMin(_.forceS),
      "load_passes" -> arr(reps.groupBy(_.round).toSeq.sortBy(_._1).map { case (n, rs) =>
        str(f"round$n@${rs.head.t}%.0fs reps=${rs.size}") }),
      "canary_sec" -> canarySec(series).toString,
      "canary_series" -> arr(series.map { case (t, s) => s"[$t,$s]" }),
      "forced" -> forcedClaim.toString, "force_method" -> str(ForceMethod),
      "cache_bytes" -> lastNonEmpty(_.cacheBytes), "dispatch" -> lastNonEmpty(_.dispatch),
      "reps" -> arr(reps.map(repJson))) ++ env)
  }

  private def load1: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Writes BENCH_DETAIL.json and prints the compact line. It must fit
    * a ~2000-char tail of the run's output, so the line carries
    * qNN short keys, 2 decimals and the dirty list instead of the
    * per-query maps; it goes to raw stdout, past sbt's `[info]` prefix. */
  private def emit(reps: Seq[Rep], series: Seq[(Double, Double)], cpus: Int,
                   sf: String, loadStart: Double, partial: Boolean): Unit = {
    val v = adjudicate(reps, series, cpus)
    // every rep released its caches, so anything still cached is a leak.
    // emit can run on the deadline or shutdown thread, where the
    // thread-local active session is unset — fall back to the default
    val leftoverTags = graft.core.CacheRegistry.trackedTags
    val cacheLeak = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .exists(s => !s.sharedState.cacheManager.isEmpty) || leftoverTags.nonEmpty
    val env = Seq("partial" -> partial.toString, "load_start" -> f"$loadStart%.2f",
      "load_end" -> f"$load1%.2f", "cache_leak" -> cacheLeak.toString,
      "plan_key_failures" -> graft.core.CacheRegistry.planKeyFailures.toString, "sf" -> str(sf))
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(detailJson(v, reps, series,
        env :+ ("leftover_cache_tags" -> arr(leftoverTags.map(str))))) finally w.close()
    } catch { case _: Throwable => () }
    def short(q: String) = q.split("_")(0)
    def two(x: Double) = f"$x%.2f"
    System.out.println(obj(Seq("metric" -> str("total"), "value" -> two(v.total), "unit" -> str("sec"),
      "queries" -> obj(v.names.map(q => short(q) -> two(v.queries.getOrElse(q, -1.0)))),
      "failed" -> arr(v.failed.map(q => str(short(q)))), "loaded" -> v.loaded.toString,
      "dirty_at_min" -> arr(v.dirtyAtMin.map(q => str(short(q)))),
      "canary_sec" -> two(canarySec(series)),
      "forced" -> forcedClaim.toString) ++ env :+ ("detail" -> str("BENCH_DETAIL.json"))))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val ncpu = cpus.toIntOption.getOrElse(32)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "420").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // A 60+-query session accumulates listener/status-store state that
      // taxes every subsequent tiny job (late-session queries measured
      // ~5× their standalone cost); keep the retained windows small.
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // events.ts is TIMESTAMP(NANOS); without this it fails to load at all
    graft.io.Sources.nanosAsLong(spark)

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val log = ArrayBuffer.empty[Rep]
    val series = ArrayBuffer.empty[(Double, Double)] // (end second, canary seconds)
    def snapshot() = log.synchronized((log.toList, series.toList))
    val loadStart = load1
    val emitted = new AtomicBoolean(false)
    // `partial` = round 0 did not cover every query
    def emitOnce(): Unit = if (emitted.compareAndSet(false, true)) {
      val (reps, pts) = snapshot()
      val ran = reps.map(_.q).toSet
      emit(reps, pts, ncpu, sfDir, loadStart, partial = all.exists(q => !ran(q._1)))
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => emitOnce()))
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val deadline = new Thread(() => {
      Thread.sleep(((budgetSec + 90) * 1000).toLong)
      emitOnce()
      Runtime.getRuntime.halt(0)
    })
    deadline.setDaemon(true)
    deadline.start()

    // Runs `work` as a job group the watchdog cancels past its slice: the
    // base slice stretched by the host's current slowness, capped to end
    // before the deadline thread fires. Returns the error, if any.
    def watched(group: String)(work: => Unit): Option[String] = {
      val slowness = log.synchronized(series.toList) match {
        case Nil => 1.0
        case pts => pts.last._2 / clampedBest(pts.map(_._2).min, ncpu)
      }
      val slice = math.min(scaledSlice(BaseSliceSec, slowness), math.max(5.0, budgetSec + 80 - elapsed))
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      val watchdog = new Thread(() => {
        try {
          Thread.sleep((slice * 1000).toLong)
          spark.sparkContext.cancelJobGroup(group)
        } catch { case _: InterruptedException => () }
      })
      watchdog.setDaemon(true)
      val w0 = System.nanoTime()
      watchdog.start()
      try { work; None } catch { // a watchdog cancellation is a JOB_CANCELLED SparkException
        case e: Throwable => Some((f"${e.getClass.getSimpleName}@${(System.nanoTime() - w0) / 1e9}%.1fs/" +
          f"slice=$slice%.0fs: ${Option(e.getMessage).getOrElse("")}").replaceAll("\\p{Cntrl}", " ").take(160))
      } finally {
        watchdog.interrupt()
        spark.sparkContext.clearJobGroup()
      }
    }

    // One single-shot canary point: the instantaneous host speed, spikes
    // included. A cancelled probe is just a missing point.
    def canaryPoint(): Unit = {
      val c0 = System.nanoTime()
      if (watched("bench-canary")(canaryJob(spark)).isEmpty) {
        val sec = (System.nanoTime() - c0) / 1e9
        log.synchronized(series += ((r3(elapsed), r3(sec))))
      }
    }

    def rep(round: Int, name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      if (log.synchronized(series.lastOption).forall(p => elapsed - p._1 > CanaryFreshSec)) canaryPoint()
      val snap0 = cpuSnap()
      graft.core.Dispatch.drain() // clear notes from the previous rep
      val a = System.nanoTime()
      var built = 0L
      val err = watched(s"bench-$name") {
        val df = fn(spark, sfDir)
        built = System.nanoTime()
        force(df)
      }
      val b = System.nanoTime()
      val t = elapsed
      val snap1 = cpuSnap()
      val forms = graft.core.Dispatch.drain()
      // per-tag cached bytes before the release: block-manager metadata, no jobs
      val bytes = try graft.core.CacheRegistry.trackedBytes(spark).filter(_._2 > 0) catch { case _: Throwable => Nil }
      // one rep's caches never bleed into the next one's memory budget:
      // the registry drops graft's tracked handles, clearCache the rest
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      val buildEnd = if (built == 0L) b else built
      log.synchronized(log += Rep(name, round, r3(t), r3((b - a) / 1e9), err.isEmpty, err.getOrElse(""),
        r3(externalCores(snap0, snap1)), r3(ioStallFraction(snap0, snap1, ncpu)),
        r3((buildEnd - a) / 1e9), r3((b - buildEnd) / 1e9),
        if (forms.isEmpty) "" else dispatchJson(forms), if (bytes.isEmpty) "" else tagBytesJson(bytes)))
    }

    var round = 0
    var todo = all
    while (todo.nonEmpty) {
      todo.foreach { case (name, fn) => if (round == 0 || elapsed < budgetSec) rep(round, name, fn) }
      round += 1
      todo =
        if (elapsed >= budgetSec) Nil
        else if (round == 1) all
        else {
          val (reps, pts) = snapshot()
          val retry = adjudicate(reps, pts, ncpu).retry
          all.filter(q => retry(q._1))
        }
    }
    emitOnce()
    spark.stop()
  }
}
