package graft.probe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.Probe._
import graft.StreamFuzz.chunkByArrival
import graft.Tables
import graft.streaming.Streams

/** Micro-batch throughput and state size of the stateful streaming
  * twins: exact dedup, gap sessionization, the stream-stream interval
  * join and near-dup against a stored LSH index, over a time-ordered
  * copy of the input cut into 20 files, one per micro-batch
  * (Trigger.AvailableNow). Per batch it prints input rows, rows/s,
  * total state rows, state memory and the watermark.
  *
  * Batches arrive in event-time order, so the watermark advances every
  * batch and evicts expired keys and sessions: state rows must plateau,
  * not grow with the stream. A monotone ramp flags an eviction bug.
  * Runs on `sfDir`, plus the `scale` leg's ×`factor` corpus when
  * `factor=N` is given.
  */
object StreamLeg {
  private def drive(name: String, out: DataFrame): Unit = {
    val q = out.writeStream.format("noop")
      .option("checkpointLocation", s"$Scratch/stream/ckpt-$name-${System.nanoTime()}")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    println(s"=== $name ===")
    println(f"${"batch"}%5s ${"rows"}%9s ${"rows/s"}%9s ${"stateRows"}%10s ${"stateMB"}%8s  watermark")
    var seen = Set.empty[Long]
    def report(p: StreamingQueryProgress): Unit =
      if (p != null && !seen.contains(p.batchId) && p.numInputRows > 0) {
        seen += p.batchId
        val so = p.stateOperators
        val durS = p.durationMs.getOrDefault("triggerExecution", 1L).toDouble / 1000.0
        println(f"${p.batchId}%5d ${p.numInputRows}%9d ${(p.numInputRows / durS).toLong}%9d " +
          f"${so.map(_.numRowsTotal).sum}%10d ${so.map(_.memoryUsedBytes).sum / 1024.0 / 1024.0}%8.1f" +
          s"  ${p.eventTime.get("watermark")}")
      }
    while (q.isActive) { report(q.lastProgress); Thread.sleep(200) }
    q.awaitTermination()
    // the tail of progress events published after the stop
    Option(q.recentProgress).foreach(_.foreach(report))
  }

  /** `df` cut into 20 files by `order` under `dir`, once. */
  private def chunked(df: DataFrame, order: String, dir: String): String = {
    if (!new java.io.File(dir).exists())
      chunkByArrival(df.withColumn("__arr", F.col(order)), "__arr", dir, files = 20)
    dir
  }

  def run(spark: SparkSession, a: Args): Unit = {
    val scales = (new java.io.File(a.sf).getName -> a.sf) +: a.factor.toSeq.map { f =>
      val dir = ScaleLegs.scaleDir(f)
      require(new java.io.File(s"$dir/events.parquet").exists(),
        s"no ×$f corpus at $dir: run the scale leg with factor=$f first")
      s"${f}x" -> dir
    }
    for ((tag, dir) <- scales) {
      val path = chunked(Tables.events(spark, dir), "ts", s"$Scratch/stream/$tag/events")
      val schema = spark.read.parquet(path).schema
      def src: DataFrame = Tables.normalizeEventTs(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path))
      // content key within a 2-hour horizon: state = the younger keys
      drive(s"dedup@$tag",
        Streams.dedupStream(src, "ts", "2 hours", Seq("user_id", "event_type", "value")))
      // 30-minute gaps: state = the open sessions
      drive(s"sessionize@$tag", Streams.sessionCounts(src, "30 minutes", "2 hours", "user_id"))
      // both sides buffer rows within the horizon per key; sides split
      // by event_id parity (the copy shift is even, so ~50/50 at any factor)
      val right = src.filter(F.col("event_id") % 2 =!= 0)
        .select(F.col("event_id").as("r_event_id"), F.col("ts").as("rts"),
          F.col("user_id"), F.col("value").as("r_value"))
      drive(s"interval_join@$tag",
        Streams.intervalJoin(src.filter(F.col("event_id") % 2 === 0), right,
          "user_id", "ts", "rts", lookback = "10 minutes", watermark = "1 hour"))
    }
    // arrivals stream against the static index of the base corpus (the
    // operator's contract: the index is the accumulated store); documents
    // carry no event time, so one synthetic second per doc id drives the
    // watermark
    val index = graft.pipeline.Dedup.lshIndex(
      Tables.documents(spark, a.sf).select(F.col("doc_id"), F.col("text")), "doc_id", "text")
    for ((tag, dir) <- scales) {
      val path = chunked(Tables.documents(spark, dir).select(F.col("doc_id"), F.col("text"))
        .withColumn("ts", F.timestamp_seconds(F.lit(1704067200L) + F.col("doc_id"))),
        "doc_id", s"$Scratch/stream/$tag/docs")
      val docs = spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", "1").parquet(path)
      drive(s"dedup_vs_index@$tag",
        Streams.dedupAgainstIndex(docs, index, "doc_id", "ts", "text", "30 minutes"))
    }
  }
}
