package graft.probe

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.Probe._

/** Probe legs over the registered queries (`time`, `jobs`, `explain`)
  * and the connected-components stress graph (`cc`). */
object QueryLegs {

  /** One untimed warm pass (JIT + codegen, as Bench warms), then the
    * timed reps. Two checkouts alternated within one window compare
    * canary-normalised; a conf A/B is two runs with different `conf:`. */
  def time(spark: SparkSession, a: Args): Unit = {
    val qs = queries(a.names)
    qs.foreach { case (_, fn) =>
      try checksum(fn(spark, a.sf)) catch { case _: Throwable => () }
      release(spark)
    }
    timeReps(spark, a.sf, qs, a.reps.getOrElse(3), () => {
      val t0 = System.nanoTime(); graft.Bench.canaryJob(spark); secs(t0)
    })
  }

  /** Rep-major timing rows, each after a fresh canary reading. A query
    * that throws prints its FAILED row and the rest still run. */
  private[graft] def timeReps(spark: SparkSession, sfDir: String,
                              qs: Seq[(String, (SparkSession, String) => DataFrame)],
                              reps: Int, canary: () => Double): Unit =
    for (rep <- 1 to reps; (name, fn) <- qs) {
      val c = canary()
      timed(spark, s"$name rep$rep", f"canary=$c%.3f")(fn(spark, sfDir))
    }

  /** Splits each rep into construction (driver work plus any jobs run
    * while building the DataFrame: bounds estimates, memoized counts,
    * eager CC rounds) and force, listing the slowest jobs of each with
    * their call sites: many short jobs are per-job overhead to cut, one
    * long shuffle is bytes to cut. `compiles` counts the generated
    * classes Spark compiled over build plus force (a warm rep that
    * compiles again misses the codegen cache). Reps are rep-major: each
    * runs every listed query in turn, as a bench pass does, and ends
    * with its compile total, so a warm rep's total shows eviction across
    * the queries; one listed query gives its isolated reading. Rep 1
    * carries cold memoized-bounds jobs and codegen. */
  def jobs(spark: SparkSession, a: Args): Unit = {
    val started = TrieMap.empty[Int, (Long, String)]
    val done = new ConcurrentLinkedQueue[(Int, Double, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started(e.jobId) = (System.nanoTime(), Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?"))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        started.remove(e.jobId).foreach { case (t0, site) => done.add((e.jobId, secs(t0), site)) }
    })
    def drained(): Vector[(Int, Double, String)] = {
      Thread.sleep(300) // listener bus drain (its flush is private API)
      done.asScala.toVector
    }
    def fmt(js: Vector[(Int, Double, String)]): String =
      js.sortBy(-_._2).take(8).map { case (id, s, site) => f"j$id=$s%.2fs[$site]" }.mkString(" ")
    val qs = queries(a.names)
    for (rep <- 1 to a.reps.getOrElse(2)) {
      val rep0 = compiles()
      qs.foreach { case (name, fn) =>
        done.clear()
        val c0 = compiles()
        val t0 = System.nanoTime()
        val df = fn(spark, a.sf)
        val build = secs(t0)
        val buildJobs = drained()
        val t1 = System.nanoTime()
        val (rows, sum) = checksum(df)
        val force = secs(t1)
        val forceJobs = drained().drop(buildJobs.size)
        println(f"$name rep$rep build=$build%.2fs (${buildJobs.size} jobs) " +
          f"force=$force%.2fs (${forceJobs.size} jobs) total=${build + force}%.2fs " +
          s"compiles=${compiles() - c0} rows=$rows sum=$sum")
        println(s"  build: ${fmt(buildJobs)}")
        println(s"  force: ${fmt(forceJobs)}")
        release(spark)
      }
      println(s"rep$rep compiles=${compiles() - rep0} queries=${qs.size}")
    }
  }

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def explain(spark: SparkSession, a: Args): Unit =
    queries(a.names).foreach { case (name, fn) =>
      println(s"\n===== $name =====")
      try fn(spark, a.sf).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }

  /** Connected components of 100k chains of 5 plus 50k random cross
    * edges (components of widely varying size and diameter), solved once
    * from a 1-partition input and once from the session's default
    * partitioning; the seconds cover build and forced checksum, and the
    * two labellings must agree. */
  def cc(spark: SparkSession, a: Args): Unit = {
    val chains = spark.range(500000L)
      .select(F.col("id").as("id_a"), (F.col("id") + 1).as("id_b"))
      .filter(F.col("id_a") % 5 =!= 4)
    val rnd = spark.range(50000L).select(
      F.abs(F.xxhash64(F.col("id")) % 500000L).as("id_a"),
      F.abs(F.xxhash64(F.col("id") + 7L) % 500000L).as("id_b"))
    val pairs = chains.union(rnd)
    val Seq(one, default) = Seq("one" -> pairs.repartition(1), "default" -> pairs).map {
      case (tag, input) =>
        val t0 = System.nanoTime()
        val labels = graft.pipeline.Dedup.connectedComponents(input)
        val (rows, sum) = checksum(labels)
        val s = secs(t0)
        val clusters = labels.select(F.countDistinct("cluster")).head().getLong(0)
        println(f"cc $tag rows=$rows sum=$sum clusters=$clusters $s%.1f s")
        labels
    }
    val diff = one.as("a").join(default.as("b"), "id")
      .filter(F.col("a.cluster") =!= F.col("b.cluster")).count()
    println(s"cc mismatches=$diff")
  }
}
