package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.{functions => F}

import graft.probe.{OrdLeg, PipeLeg, QueryLegs, ScaleLegs, StreamLeg}

/** The measurement harness: one main, one leg per question.
  *
  * {{{
  *   runMain graft.Probe <leg> [sfDir] [reps=N] [factor=N] [conf:k=v ...] [names ...]
  * }}}
  *
  * `sfDir` defaults to `$SPARK_GRAFT_SF_DIR`; the session runs on
  * `local[$SPARK_GRAFT_CPUS]` (default 32) with the leg's default conf,
  * which `conf:` arguments override. Every timing builds its frame,
  * forces it with [[checksum]] and prints one row (see [[timed]]), so
  * two runs that differ only in a `conf:` argument form an A/B whose
  * results can be compared row for row. Legs:
  *
  *  - `time`: registered queries (name prefixes, default all), one
  *    untimed warm pass, then `reps` (3) timings each beside the
  *    host-speed canary;
  *  - `jobs`: the construction/force split of each query with its Spark
  *    jobs and codegen compiles; each of `reps` (2) reps runs every
  *    listed query and prints its compile total;
  *  - `explain`: formatted physical plans;
  *  - `cc`: connected components of a 500k-node graph from a
  *    1-partition and a default-partitioned input, which must agree;
  *  - `stream`: micro-batch throughput and state size of the stateful
  *    streaming twins;
  *  - `scale`: ×`factor` (10) growth exponents of a query sweep;
  *  - `docs`, `vecs`, `ord`, `pipe`: the containment family, the vector
  *    heavies, the chunked-ordinal family and the composed curation
  *    funnel at third-decade factors.
  *
  * Synthesised corpora and stream chunks live under [[Scratch]] and are
  * reused by later runs.
  */
object Probe {
  private val Partitions = "spark.sql.shuffle.partitions"
  private val Fixed32 = Map(Partitions -> "32")

  val Scratch: String = s"${sys.props("java.io.tmpdir")}/graft-probe"

  /** leg name -> (default conf, body). */
  private val legs: Map[String, (Map[String, String], (SparkSession, Args) => Unit)] = Map(
    "time" -> ((Map.empty, QueryLegs.time)),
    "jobs" -> ((Fixed32, QueryLegs.jobs)),
    "explain" -> ((Map(Partitions -> "8"), QueryLegs.explain)),
    "cc" -> ((Fixed32, QueryLegs.cc)),
    "stream" -> ((Map(Partitions -> "16"), StreamLeg.run)),
    "scale" -> ((Fixed32, ScaleLegs.scale)),
    "docs" -> ((Fixed32 + ("graft.containment.waveDir" -> s"$Scratch/waves"), ScaleLegs.docs)),
    "vecs" -> ((Fixed32, ScaleLegs.vecs)),
    "ord" -> ((Fixed32, OrdLeg.run)),
    "pipe" -> ((Fixed32 + ("graft.containment.waveDir" -> s"$Scratch/waves"), PipeLeg.run)))

  final case class Args(sfDir: Option[String] = None, reps: Option[Int] = None,
                        factor: Option[Int] = None, conf: Seq[(String, String)] = Nil,
                        names: Seq[String] = Nil) {
    def sf: String = sfDir.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      throw new IllegalArgumentException("no sfDir: pass it or set SPARK_GRAFT_SF_DIR"))
    def wants(name: String): Boolean = names.isEmpty || names.contains(name)
  }

  /** Parses the arguments after the leg name. Order is free: `conf:k=v`
    * sets a session conf, `reps=N` / `factor=N` take a positive integer,
    * a token containing `/` is the sfDir, anything else is a name. */
  def parse(args: Seq[String]): Args = {
    def positive(a: String, v: String): Int = v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$a: expected a positive integer"))
    args.foldLeft(Args()) { (acc, a) =>
      if (a.startsWith("conf:")) a.drop(5).split("=", 2) match {
        case Array(k, v) if k.nonEmpty => acc.copy(conf = acc.conf :+ (k -> v))
        case _ => throw new IllegalArgumentException(s"$a: expected conf:key=value")
      }
      else if (a.startsWith("reps=")) acc.copy(reps = Some(positive(a, a.drop(5))))
      else if (a.startsWith("factor=")) acc.copy(factor = Some(positive(a, a.drop(7))))
      else if (a.contains("/")) acc.copy(sfDir = Some(a))
      else acc.copy(names = acc.names :+ a)
    }
  }

  def session(conf: Seq[(String, String)]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config(Partitions, cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Executes `df`'s own physical plan (`queryExecution.toRdd`, the
    * Bench force: no logical rewrite can prune work) and returns its row
    * count and the sum of `xxhash64` over all columns — the value of
    * `sum(cast(xxhash64(*) as decimal(38,0)))`, printed `null` for no
    * rows. Order-free, so runs of one result compare equal. */
  def checksum(df: DataFrame): (Long, String) = {
    val output = df.queryExecution.executedPlan.output
    val hash = new XxHash64(output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable) })
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val h = UnsafeProjection.create(Seq(hash))
      var n = 0L
      var acc = 0L
      var big = BigInt(0)
      rows.foreach { r =>
        val x = h(r).getLong(0)
        val t = acc + x
        // signed overflow: carry the partial sum into the BigInt
        if (((acc ^ t) & (x ^ t)) < 0) { big += acc; acc = x } else acc = t
        n += 1
      }
      Iterator((n, big + acc))
    }.collect()
    val rows = parts.map(_._1).sum
    (rows, if (rows == 0) "null" else parts.map(_._2).sum.toString)
  }

  /** Drops tracked and catalog caches, then nudges the ContextCleaner so
    * the last timing's shuffle files leave the disk before the next. */
  def release(spark: SparkSession): Unit = {
    graft.core.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def diskFree: String = {
    val dir = new java.io.File(Scratch)
    dir.mkdirs()
    s"${dir.getUsableSpace >> 30} GiB free"
  }

  /** Builds `mk`, forces it with [[checksum]] and prints
    * `<tag> <sec> s rows=<n> sum=<s> ext=<cores> <extra> <disk>`, where
    * `ext` is the external cpu load during the timing (Bench's load
    * stamp) and `extra` is read after the force. A throw prints
    * `FAILED <tag> <message>` and the sweep goes on. Caches are released
    * either way. Returns the seconds of a successful timing. */
  def timed(spark: SparkSession, tag: String, extra: => String = "")(mk: => DataFrame): Option[Double] =
    try {
      val s0 = Bench.cpuSnap()
      val t0 = System.nanoTime()
      val (rows, sum) = checksum(mk)
      val dt = secs(t0)
      val ext = Bench.externalCores(s0, Bench.cpuSnap())
      println(f"$tag $dt%.3f s rows=$rows sum=$sum ext=$ext%.2f $extra $diskFree")
      Some(dt)
    } catch {
      case e: Throwable =>
        println(s"FAILED $tag ${String.valueOf(e.getMessage).take(160)}")
        None
    } finally release(spark)

  /** Writes `df` to `path` once; later runs reuse the files. */
  def writeOnce(path: String, parts: Int = 32)(df: => DataFrame): String = {
    if (!new java.io.File(path).exists()) {
      df.repartition(parts).write.mode("overwrite").parquet(path)
      println(s"built $path")
    }
    path
  }

  /** `factor` copies of `df` in one parquet dir: copy i raises `idCol`
    * by i × `span` (ids must stay below `span`, so copies never collide)
    * and `also` may shift further columns of copy i. */
  def copies(df: DataFrame, idCol: String, span: Long, factor: Int, path: String,
             parts: Int = 32, also: (DataFrame, Int) => DataFrame = (d, _) => d): String =
    writeOnce(path, parts) {
      val max = df.agg(F.max(F.col(idCol).cast("long"))).head().getLong(0)
      require(max < span, s"$idCol reaches $max, over the shift span $span")
      (0 until factor).map(i => also(df.withColumn(idCol, F.col(idCol) + F.lit(i * span)), i))
        .reduce(_ unionByName _)
    }

  /** Registered queries whose names start with one of `prefixes` (all
    * when empty), in name order. */
  def queries(prefixes: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }

  def main(args: Array[String]): Unit = {
    val (defaults, run) = args.headOption.flatMap(legs.get).getOrElse {
      System.err.println(s"usage: graft.Probe <${legs.keys.toSeq.sorted.mkString("|")}> " +
        "[sfDir] [reps=N] [factor=N] [conf:k=v ...] [names ...]")
      sys.exit(2)
    }
    val a = parse(args.toSeq.tail)
    val spark = session(defaults.toSeq ++ a.conf)
    try run(spark, a) finally spark.stop()
  }
}
