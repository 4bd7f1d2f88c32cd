package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the batch time operators (SURVEY.md
  * §7.5): Resample ↔ tumbling window, RollingDuration ↔ sliding window,
  * plus watermarked late-data handling and custom sessionization state —
  * none of which exist in the reference (§2.11: streaming: none); they
  * are the scale-path extension of its time semantics.
  */
object Streams {

  /** Watermark with an LTZ view of the event-time column. Spark cannot
    * define a watermark on TIMESTAMP_NTZ (verified empirically on this
    * Spark 4.1: `EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE` at analysis, r20)
    * — the ONE surface where the engine's NTZ ≙ UTC-instant mapping
    * cannot stay in the zone-less flavor end-to-end. Every watermarked
    * operator funnels its event-time column through this cast first:
    * value- and order-preserving wall time under the pinned UTC session
    * zone (the `Prefix.tsMicros` contract), so window bounds, join
    * ranges and dedup horizons are identical — only the OUTPUT bucket
    * flavor becomes LTZ. The batch twins accept NTZ natively; this
    * boundary is streaming-only. StreamFuzz's tumbling twin runs half
    * its seeds with an NTZ source to keep the funnel pinned. */
  private def watermarked(df: DataFrame, c: String, delay: String): DataFrame = {
    val d =
      if (df.schema(c).dataType == org.apache.spark.sql.types.TimestampNTZType)
        df.withColumn(c, F.col(c).cast(org.apache.spark.sql.types.TimestampType))
      else df
    d.withWatermark(c, delay)
  }

  /** Streaming read of an events-shaped parquet directory/file. The
    * schema probe goes through `Sources.read`, so a directory whose files
    * have not changed since the last read starts no footer job (a glob
    * still works; it reads uncached). */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    graft.io.Sources.nanosAsLong(spark)
    val schema = graft.io.Sources.read(spark, "parquet", path).schema
    val raw = spark.readStream.schema(schema).parquet(path)
    graft.Tables.normalizeEventTs(raw) // same branch table as the batch reader
  }

  /** Tumbling-window aggregate (streaming Resample): event-time windows
    * + watermark bound state; exactly `Analytics.resampleDuration` made
    * incremental. */
  def tumblingCounts(events: DataFrame, window: String, watermark: String): DataFrame =
    watermarked(events, "ts", watermark)
      .groupBy(F.window(F.col("ts"), window), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.sum(F.col("value")).as("v"))
      .select(F.col("window.start").as("bucket"), F.col("event_type"), F.col("n"), F.col("v"))

  /** Sliding-window aggregate (streaming RollingDuration). */
  def slidingCounts(events: DataFrame, window: String, slide: String,
                    watermark: String): DataFrame =
    watermarked(events, "ts", watermark)
      .groupBy(F.window(F.col("ts"), window, slide))
      .agg(F.count(F.lit(1)).as("n"))
      .select(F.col("window.start").as("bucket"), F.col("n"))

  /** Native session windows (streaming form of `Temporal.sessionize`):
    * gap-based sessions via the built-in `session_window` — state is
    * merged incrementally per key and closed once the watermark passes
    * the session end, so memory is bounded by OPEN sessions only. */
  def sessionCounts(events: DataFrame, gap: String, watermark: String,
                    key: String = "user_id"): DataFrame =
    watermarked(events, "ts", watermark)
      .groupBy(F.session_window(F.col("ts"), gap), F.col(key))
      .agg(F.count(F.lit(1)).as("n"))
      .select(F.col("session_window.start").as("session_start"),
        F.col("session_window.end").as("session_end"), F.col(key), F.col("n"))

  /** Streaming exact dedup — the incremental form of `Dedup.exactKey`
    * (a training-data ingest pipeline dedups as documents ARRIVE, not in
    * batch sweeps). `dropDuplicatesWithinWatermark` keys state on the
    * content hash and expires it once the watermark passes, so state
    * stays bounded by the dedup horizon instead of growing with the
    * stream; the hash shuffle carries (key, row) once per arrival. */
  def dedupStream(in: DataFrame, tsCol: String, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    watermarked(in, tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: the streaming form of `Lookup.merge` — a
    * live fact stream joined against a (small) static dimension. Spark
    * broadcasts the dim per micro-batch, so the stream never shuffles
    * and no state accrues; this is the standard shape for attaching
    * user/document metadata during training-data ingest. The dim is
    * first-match-deduped with the SAME batch semantics (first row per
    * key in frame order) so batch and streaming enrichment agree. */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String],
                   dimCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(F.col): _*)
      .orderBy(F.monotonically_increasing_id())
    // dedup MATERIALIZES eagerly: monotonically_increasing_id (frame
    // order) is not allowed inside a streaming plan, and a static dim
    // should be resolved once, not re-deduped every micro-batch anyway
    val dedup = dim.withColumn("__rn", F.row_number().over(w))
      .filter(F.col("__rn") === 1)
      .select((keys ++ dimCols).map(F.col): _*)
      .localCheckpoint(true)
    stream.join(F.broadcast(dedup), keys, "left")
  }

  /** Streaming incremental near-dup: the streaming form of
    * `Dedup.incrementalPairs` — arriving documents are checked against
    * the STORED corpus index (an `lshIndex` frame from the last ingest)
    * as they land. The index explodes ONCE to scalar (id, shingles,
    * band-key) rows (pathological buckets capped, like the batch
    * operator) and is broadcast per micro-batch; each arriving doc is
    * hashed in its own projection and equi-joined on the band key, then
    * exact-Jaccard verified. A pair sharing several bands would emit
    * once per band, so the pair key is deduped within the watermark —
    * state is bounded by the dedup horizon, never by the stream.
    * Emits (id_a = index doc, id_b = arriving doc, jaccard ≥ threshold). */
  def dedupAgainstIndex(stream: DataFrame, index: DataFrame,
                        idCol: String, tsCol: String, textCol: String,
                        watermark: String, threshold: Double = 0.8,
                        maxBucket: Int = 64,
                        w: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    val D = graft.pipeline.Dedup
    val ix = index.select(F.col("id").as("id_a"), F.col("sh").as("sh_a"),
      F.explode(F.col("bands")).as("bk"))
    val counts = ix.groupBy("bk").count()
      .filter(F.col("count") <= maxBucket).select("bk")
    // static side resolves once, not per micro-batch
    val ixOk = ix.join(counts, "bk").localCheckpoint(true)
    // w/k/bands MUST match the parameters the stored index was built
    // with (Dedup.lshIndex defaults) — a mismatched band key never
    // equi-joins, which would silently report zero duplicates rather
    // than fail (ADVICE r05); they are parameters here so a
    // non-default index can thread its hashing scheme through.
    val b = stream
      .select(F.col(idCol).as("id_b"), F.col(tsCol).as("__ts"),
        D.shingles(F.col(textCol), w).as("sh_b"))
      .select(F.col("id_b"), F.col("__ts"), F.col("sh_b"),
        F.explode(D.bandKeysDirect(F.col("sh_b"), k, bands)).as("bk"))
    watermarked(
      b.join(F.broadcast(ixOk), "bk")
        .select(F.col("id_a"), F.col("id_b"), F.col("__ts"),
          D.jaccard(F.col("sh_a"), F.col("sh_b")).as("jaccard"))
        .filter(F.col("jaccard") >= threshold),
      "__ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("id_a", "id_b"))
      .drop("__ts")
  }

  /** Streaming twin of `Dedup.containmentPairsIncremental` (the q92
    * family's member of the q80/q85/q88 streaming pattern): arriving
    * documents are containment-checked against the STORED gram index as
    * they land. `index` is the scalar (id, g) membership artifact from
    * `Dedup.containmentGramIndex` (the same frame a nightly ingest
    * stores bucketed on `g`).
    *
    * Semantics vs the batch fold: the `maxDf` stop-gram cap is FROZEN
    * at the index — exactly as `dedupAgainstIndex` freezes its LSH
    * buckets — so arriving docs never shift posting counts, and
    * arrival-vs-arrival pairs within the stream are not emitted (run
    * the batch fold over the accumulated store when either matters;
    * same contract note as `quotaPerGroup`). Under that frozen cap the
    * emitted arrival-vs-index pairs carry the exact full-rebuild
    * containment values.
    *
    * Shape: all stream-side work is stateless except the pair dedup
    * (state bounded by the watermark horizon). Candidates come from ONE
    * stream-static equi-join on the gram hash against the capped index
    * postings; the intersection is then computed EXACTLY per surviving
    * pair via `array_intersect` against the index doc's kept-gram array
    * — no streaming aggregation, so emission is immediate, not
    * watermark-delayed. The static side resolves once (localCheckpoint),
    * not per micro-batch. The one corpus-shaped broadcast is the
    * per-doc kept-gram arrays — the same order as the stored index
    * itself; the stop-gram array that exactifies the arriving doc's
    * capped size is the vocabulary's heavy tail, O(Σdf / maxDf) worst
    * case (small in the discriminative regime the batch cap analysis
    * pins). */
  def containmentAgainstIndex(stream: DataFrame, index: DataFrame,
                              idCol: String, tsCol: String, textCol: String,
                              watermark: String, k: Int = 3,
                              tau: Double = 0.8, maxDf: Int = 1000): DataFrame = {
    val T = graft.pipeline.TextOps
    overlapAgainstIndex(stream, index, idCol, tsCol, textCol, watermark,
      toks => T.distinctKgramHashes(toks, k), tau, maxDf)
  }

  /** Streaming twin of `Dedup.winnowOverlapPairs` (q100): arriving
    * documents checked for winnow-fingerprint overlap against the
    * stored fingerprint index — the MOSS-report shape at ingest time.
    * `index` is the (id, g) fingerprint membership built with the SAME
    * (k, w) scheme (`TextOps.winnowFromTokens`); same frozen-cap and
    * at-least-once semantics as `containmentAgainstIndex`. */
  def winnowOverlapAgainstIndex(stream: DataFrame, index: DataFrame,
                                idCol: String, tsCol: String, textCol: String,
                                watermark: String, k: Int = 3, w: Int = 4,
                                tau: Double = 0.6, maxDf: Int = 1000): DataFrame = {
    val T = graft.pipeline.TextOps
    overlapAgainstIndex(stream, index, idCol, tsCol, textCol, watermark,
      toks => T.winnowFromTokens(toks, k, w), tau, maxDf)
  }

  /** The featureization-generic core shared by the two twins above:
    * arriving docs are featurized to a distinct hash set, candidates
    * come from one stream-static equi-join against the capped index
    * postings, and the overlap is computed exactly per surviving pair
    * via array intersection — stateless except the watermark-bounded
    * pair dedup. See `containmentAgainstIndex` for the full shape and
    * cap-freezing contract notes. */
  private def overlapAgainstIndex(stream: DataFrame, index: DataFrame,
                                  idCol: String, tsCol: String, textCol: String,
                                  watermark: String,
                                  features: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                  tau: Double, maxDf: Int): DataFrame = {
    val T = graft.pipeline.TextOps
    val gdf = index.groupBy("g").agg(F.count(F.lit(1)).as("__df"))
    // vocabulary side broadcast when small — the un-hinted join
    // exchanges the whole index gram explosion (see Dedup's r11 note);
    // one-time cost here (static side), but the index can be large
    val kept = index.join(
      graft.pipeline.Dedup.maybeBroadcastVocab(
        gdf.filter(F.col("__df") <= maxDf), gdf), "g")
      .select(F.col("id"), F.col("g"))
    // static side resolves once, not per micro-batch
    val cand = kept.select(F.col("g"), F.col("id").as("id_a")).localCheckpoint(true)
    val perDocA = kept.groupBy("id")
      .agg(F.sort_array(F.collect_set("g")).as("__gsa"))
      .select(F.col("id").as("id_a"), F.col("__gsa"),
        F.size(F.col("__gsa")).cast("long").as("__na"))
      .localCheckpoint(true)
    // single-row heavy-tail gram set: subtracting it from an arriving
    // doc's gram set yields the doc's EXACT capped size without a
    // streaming aggregation (empty set when nothing crosses the cap)
    val stopDf = gdf.filter(F.col("__df") > maxDf)
      .agg(F.collect_set("g").as("__stop")).localCheckpoint(true)
    val b = stream
      .select(F.col(idCol).as("id_b"), F.col(tsCol).as("__ts"),
        features(T.tokens(F.col(textCol))).as("__gsb"))
      .crossJoin(F.broadcast(stopDf))
      .select(F.col("id_b"), F.col("__ts"), F.col("__gsb"),
        F.size(F.array_except(F.col("__gsb"), F.col("__stop"))).cast("long").as("__nb"))
      // candidates explode the UNCAPPED gram set: joining the capped
      // postings drops stop grams from evidence anyway
      .select(F.col("id_b"), F.col("__ts"), F.col("__gsb"), F.col("__nb"),
        F.explode(F.col("__gsb")).as("g"))
    val lo = F.least(F.col("id_a"), F.col("id_b"))
    val nLo = F.when(F.col("id_a") < F.col("id_b"), F.col("__na")).otherwise(F.col("__nb"))
    val nHi = F.when(F.col("id_a") < F.col("id_b"), F.col("__nb")).otherwise(F.col("__na"))
    watermarked(b.join(F.broadcast(cand), "g"), "__ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("id_a", "id_b"))
      .join(F.broadcast(perDocA), "id_a")
      // __gsa is the KEPT set, so intersecting the arrival's full set
      // against it counts exactly the kept shared grams
      .withColumn("inter", F.size(F.array_intersect(F.col("__gsb"), F.col("__gsa"))).cast("long"))
      .select(
        F.when(nLo <= nHi, lo).otherwise(F.greatest(F.col("id_a"), F.col("id_b"))).as("id_small"),
        F.when(nLo <= nHi, F.greatest(F.col("id_a"), F.col("id_b"))).otherwise(lo).as("id_big"),
        F.least(F.col("__na"), F.col("__nb")).as("n_small"),
        F.col("inter"),
        F.round(F.col("inter").cast("double") / F.least(F.col("__na"), F.col("__nb")), 6)
          .as("containment"))
      .filter(F.col("containment") >= tau)
  }

  /** Streaming twin of `Similarity.incrementalCosinePairs` (q81): an
    * arriving embedding batch near-dup-checked against the STORED
    * hyperplane-bucket index as it lands — the embedding member of the
    * q80/q85/q88/q92 streaming family. `index` is the (id, vec, bucket)
    * artifact from `Similarity.hyperplaneIndex`; `planes`/`seed` MUST
    * match the parameters it was built with (a mismatched bucket never
    * equi-joins and silently reports zero duplicates — same ADVICE r05
    * armor note as `dedupAgainstIndex`).
    *
    * Shape: one stream-static equi-join on the bucket (each vector
    * carries exactly ONE bucket, so candidate pairs are emitted once),
    * exact cosine verify on candidates only, and q80-style
    * at-least-once armor — an in-watermark replay dedups, a
    * behind-watermark replay drops. The static side resolves once
    * (localCheckpoint) and is broadcast: index vectors are the payload,
    * so this is the ≲10^5-vector regime; a larger stored index stays a
    * bucketed parquet store and the join is shuffle-free on `bucket`
    * without the hint. */
  def embeddingDedupStream(stream: DataFrame, index: DataFrame,
                           idCol: String, tsCol: String, vecCol: String,
                           watermark: String, threshold: Double = 0.9,
                           planes: Int = 8, seed: Int = 42): DataFrame = {
    val S = graft.pipeline.Similarity
    val cos = S.cosineNative(index.sparkSession) _
    val ix = index.select(F.col("id").as("id_a"), F.col("vec").as("v_a"),
      F.col("bucket")).localCheckpoint(true)
    val b = stream.select(F.col(idCol).as("id_b"), F.col(tsCol).as("__ts"),
      F.col(vecCol).as("v_b"),
      S.hyperplaneBucket(F.col(vecCol), planes, seed).as("bucket"))
    watermarked(
      b.join(F.broadcast(ix), "bucket")
        .select(F.col("id_a"), F.col("id_b"), F.col("__ts"),
          cos(F.col("v_a"), F.col("v_b")).as("cos"))
        .filter(F.col("cos") >= threshold),
      "__ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("id_a", "id_b"))
      .drop("__ts")
  }

  /** Streaming twin of `TextOps.ngramNoveltyFromVocab` (q93): arriving
    * documents scored for n-gram novelty against the STORED reference
    * vocabulary as they land — new-crawl triage at ingest time.
    *
    * Fully STATELESS: the vocabulary collapses to a single-row sorted
    * array (resolved once, not per micro-batch), each arrival's novelty
    * is one scan-stage `array_except` against the broadcast row, and
    * emission is immediate — no watermark, no state store, no streaming
    * aggregation. Values are exactly the batch operator's (both sides
    * count the same distinct-gram sets).
    *
    * Scale bound: the broadcast row is 8 B × |vocab| — fine to
    * ~10^7-10^8 grams. Past that, score in the batch operator over
    * accumulated micro-batches (the vocab join stays distributed), or
    * gate arrivals with a bloom sketch of the vocabulary and accept
    * false-positive grams slightly UNDER-counting novelty. */
  def noveltyStream(stream: DataFrame, vocab: DataFrame,
                    idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val T = graft.pipeline.TextOps
    val vrow = vocab.agg(F.sort_array(F.collect_set("g")).as("__vocab"))
      .localCheckpoint(true)
    stream
      .select(F.col(idCol), T.distinctKgramHashes(T.tokens(F.col(textCol)), k).as("__gs"))
      .crossJoin(F.broadcast(vrow))
      .select(F.col(idCol),
        F.coalesce(F.size(F.col("__gs")), F.lit(0)).cast("long").as("n_grams"),
        F.coalesce(F.size(F.array_except(F.col("__gs"), F.col("__vocab"))), F.lit(0))
          .cast("long").as("n_novel"))
      .withColumn("novelty",
        F.when(F.col("n_grams") === 0, F.lit(null).cast("double"))
          .otherwise(F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 6)))
  }

  /** Streaming twin of `Dedup.stripSpansFromProfile` (r11 verdict task
    * 6 — completes the stored-artifact twin family): arriving documents
    * are rewritten against the ALREADY-KNOWN bad-span profile (the
    * accumulated cross-corpus duplicate set, a boilerplate blocklist, a
    * contaminated-span list), dropping every `size`-token chunk whose
    * content hash is in the profile. Emits the batch operator's exact
    * columns — (id, ts, n_tokens, n_removed, clean_text) — with the
    * same tail-kept / null-text-stays-null semantics (the hash kernel
    * and the keep-test are the SAME expressions).
    *
    * Fully STATELESS (the `noveltyStream` shape, not the pair-dedup
    * shape): the profile collapses to one single-row sorted hash array,
    * resolved once — not per micro-batch — and each arrival's rewrite
    * is a scan-stage higher-order filter against the broadcast row. No
    * state store, no streaming aggregation, so emission is immediate
    * and late/replayed rows rewrite identically (the operator is a pure
    * per-row map; the StreamingSpec late-batch case pins that).
    *
    * Scale bound: the broadcast row is 8 B × |profile| — fine to
    * ~10^7-10^8 hashes, which covers curated boilerplate/contamination
    * profiles by orders of magnitude. Past that, run the batch
    * `stripSpansFromProfile` over accumulated micro-batches: its
    * hash-join form keeps the profile distributed. */
  def stripSpansStream(stream: DataFrame, profile: DataFrame,
                       idCol: String, tsCol: String, textCol: String,
                       size: Int = 3): DataFrame = {
    val T = graft.pipeline.TextOps
    val prow = profile.agg(F.sort_array(F.collect_set("chunk_hash")).as("__bad"))
      .localCheckpoint(true)
    stream
      .select(F.col(idCol), F.col(tsCol).as("ts"), T.tokens(F.col(textCol)).as("__w"))
      .withColumn("__ch", T.chunkHashesKernel(F.col("__w"), size))
      .crossJoin(F.broadcast(prow))
      // dup positions as an int array: index every chunk, keep the ones
      // whose hash is in the profile — then the keep-test is the batch
      // operator's expression verbatim
      // null text propagates null through the chain; the coalesce keeps
      // n_removed at 0 there, exactly like the batch operator's
      // missed-join coalesce
      .withColumn("__dp",
        F.coalesce(
          F.filter(
            F.zip_with(F.col("__ch"), F.sequence(F.lit(0), F.size(F.col("__ch")) - 1),
              (h, j) => F.when(F.array_contains(F.col("__bad"), h), j).otherwise(F.lit(-1))),
            x => x >= 0),
          F.array().cast("array<int>")))
      .select(F.col(idCol), F.col("ts"),
        F.size(F.col("__w")).as("n_tokens"),
        (F.size(F.col("__dp")) * size).as("n_removed"),
        F.array_join(
          F.filter(F.col("__w"), (_, j) =>
            !F.array_contains(F.col("__dp"),
              F.floor(j.cast("double") / size).cast("int"))),
          " ").as("clean_text"))
  }

  /** Streaming deterministic sampling: the md5 row-coordinate predicate
    * (`Sampling.hashBp`) is stateless and partition-independent, so the
    * SAME rows survive in a replayed/reordered stream as in the batch
    * job — exactly what sample reproducibility across backfills needs. */
  def sampleStream(in: DataFrame, key: org.apache.spark.sql.Column, bp: Int): DataFrame =
    in.filter(graft.pipeline.Sampling.hashBp(key) < bp)

  /** Streaming twin of `Dedup.bloomNewDocs`: arriving documents whose
    * content key is not in the indexed corpus. The stored sketch gates
    * every micro-batch on the SCAN side (stateless filter — no
    * watermark, no state store), so the stream-static anti-join only
    * ever buffers the bloom-positive slice; a mostly-new stream flows
    * through with no join work at all. Output is EXACT — the sketch is
    * a performance layer, identical contract to the batch operator. */
  def newDocsStream(stream: DataFrame, index: DataFrame,
                    sketch: Array[Byte],
                    keyCol: String): DataFrame = {
    require(stream.schema(keyCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"newDocsStream: $keyCol must be a string content key, " +
        s"got ${stream.schema(keyCol).dataType.typeName}")
    // Native codegen probe (see Dedup.bloomSketch): the sketch bytes are
    // a plan LITERAL, so every micro-batch reuses the deserialized
    // filter from the compiled plan — no broadcast variable, no UDF.
    graft.exprs.GraftFunctions.register(stream.sparkSession)
    val might = F.call_function("bloom_might_contain",
      F.lit(sketch), F.xxhash64(F.col(keyCol)))
    val positives = stream.filter(might)
      .join(index.select(F.col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    stream.filter(!might).unionByName(positives)
  }

  /** Stream-stream interval join — the streaming form of the batch
    * as-of/range join family (`Temporal.asofJoin`): left events matched
    * to right events of the same key whose timestamp falls in
    * [leftTs − lookback, leftTs]. Both sides carry watermarks and the
    * join condition bounds the time range in BOTH directions, so Spark
    * can expire buffered state as the watermark advances — state is
    * O(keys × lookback), not O(stream). The shuffle partitions both
    * streams by the key once; matching is then per-partition. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, lookback: String,
                   watermark: String): DataFrame = {
    val l = watermarked(left, leftTs, watermark)
    val r = watermarked(right, rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) - F.expr(s"INTERVAL $lookback") &&
        r(rightTs) <= l(leftTs),
      "inner")
      .drop(r(key))
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Int, total_value: Double)

  /** Streaming per-group ingest quota — the streaming twin of
    * `Sampling.capPerGroup`: admit at most `cap` rows per group over
    * the stream's lifetime. State is ONE counter per group (bounded
    * O(groups), never row-shaped). Within each micro-batch candidates
    * are admitted in (md5(key), key) order, so replaying the same
    * batch admits the same rows under at-least-once delivery. The
    * batch op's churn-stable md5-MINIMUM selection would need
    * retraction to maintain incrementally (a later row can displace an
    * emitted one), so the streaming form trades it for append-only
    * admission — the standard live-ingest quota semantics; run the
    * batch op over the accumulated store when exact md5-min selection
    * matters. Emits (group, key) admissions for the caller to join. */
  def quotaPerGroup(in: DataFrame, groupCol: String, keyCol: String,
                    cap: Int): DataFrame = {
    import in.sparkSession.implicits._
    in.select(F.col(groupCol).cast("string").as("g"),
        F.col(keyCol).cast("string").as("k"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[(String, String)], state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = (cap - admitted).toInt
          if (room <= 0) Iterator.empty
          else {
            def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
              .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
            val take = rows.map(_._2).toArray.sortBy(k => (md5hex(k), k)).take(room)
            state.update(admitted + take.length)
            take.iterator.map(k => (g, k))
          }
      }
      .toDF(groupCol, keyCol)
  }

  /** Custom per-key state (KeyValueGroupedDataset.flatMapGroupsWithState):
    * running per-user session summaries — the escape hatch for stateful
    * logic windows can't express.
    *
    * `idleTimeout` (e.g. "30 minutes") closes a user's state after that
    * much PROCESSING time without arrivals (the final summary is
    * re-emitted and the state removed — bounding state to active
    * users). r17: the timeout is opt-in, and the default is NoTimeout,
    * because processing-time state makes a drain-style run
    * (Trigger.AvailableNow / processAllAvailable) non-terminating: the
    * engine keeps scheduling no-data batches to check clocks that never
    * stop advancing (the r16 harness observed 1400+ empty micro-batches
    * before the run was killed). Use the timeout only under continuous
    * triggers; the pre-r17 form set ProcessingTimeTimeout
    * unconditionally while never arming a per-key duration — all hang,
    * no expiry. */
  def sessionSummaries(events: Dataset[Event],
                       idleTimeout: Option[String] = None): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val conf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionSummary, SessionSummary](
        OutputMode.Update, conf) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator(last) // session closes: final summary, state freed
          } else {
            val prev = state.getOption.getOrElse(SessionSummary(uid, 0, 0.0))
            var n = prev.n_events
            var v = prev.total_value
            batch.foreach { e => n += 1; v += e.value }
            val next = SessionSummary(uid, n, v)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator(next)
          }
      }
  }
}
