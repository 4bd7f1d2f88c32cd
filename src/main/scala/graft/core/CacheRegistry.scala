package graft.core

import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer

/** Session-scoped registry for the pipeline layer's internal persists
  * (r10 verdict task 4).
  *
  * Operators like `Dedup.containmentPairs` and `Dedup.bloomNewDocs`
  * cache small scalar intermediates that the RETURNED lazy plan still
  * references — the builder can never unpersist them itself, so in a
  * long-lived session (Bench's 92 queries, a notebook) they accumulate
  * in the block manager. Every such persist goes through [[track]];
  * a consumer that has finished its actions calls [[releaseAll]] (or
  * Spark's own `catalog.clearCache()`, which `track`ed frames also
  * honor — this registry adds the explicit handle plus an audit count,
  * it does not invent a second cache).
  *
  * Contract: `track` persists and records; caches live until the
  * session's next `releaseAll`/`clearCache`. Bench releases after every
  * timed query and asserts the block manager is empty at the end of the
  * run; ad-hoc sessions own their release point.
  *
  * A persist is not free in a warm session: Spark plans every cached
  * frame in a clone of the session (auto bucketed scan off), and stages
  * compiled there are not shared with the next pass's clone, so a
  * persist that runs every pass recompiles its stages every pass. Where
  * the consumers of an intermediate can read one exchange instead, that
  * is the cheaper share (`Dedup.simhashClusters`). Every library tag is
  * listed, with why its persist exists, in `tools/test_cache_tags.py`.
  */
object CacheRegistry {

  /** (tag, plan key, file-state key, frame). The plan key is the shared
    * [[PlanKey]] discipline: canonicalized ANALYZED plan compared
    * STRUCTURALLY (rendered strings collide for in-memory leaves),
    * plus output field NAMES (canonicalization erases aliases — a
    * re-track of `select(x.as(\"b\"))` must not be handed the earlier
    * `as(\"a\")` frame), plus file state (a same-plan track over
    * re-written files is a new cache, not a stale hit). */
  private val tracked = ArrayBuffer.empty[(String, AnyRef, String, DataFrame)]

  /** PlanKey failures seen by [[track]] (r16 verdict: a throwing plan
    * silently disabled the re-track guard — every such track persisted
    * a fresh copy with no signal). The guard cannot safely fall back to
    * a weaker key (a schema-level match could hand a DIFFERENT frame to
    * the caller — a correctness bug, where the double-persist is only a
    * memory bug), so the failure stays fail-open but is now counted and
    * logged, surfaced next to [[trackedTags]]. */
  private val planKeyFailCtr = new java.util.concurrent.atomic.AtomicLong
  def planKeyFailures: Long = planKeyFailCtr.get

  /** TEST SEAM: forces the key computation in [[track]] to fail, so the
    * fail-open accounting path is spec-coverable (a DataFrame whose
    * ANALYZED plan throws at canonicalization is not constructible
    * through the public API). Never set outside tests. */
  private[graft] var failPlanKeysForTest = false

  /** Scratch directories written by operators (the containment wave
    * spill) whose RETURNED plan reads them back — like tracked caches,
    * the builder can never delete them itself, and before r17 each
    * call leaked one answer-sized parquet copy per invocation (r16
    * ADVICE). Deleted by [[releaseAll]] (same contract as unpersist:
    * the consumer has finished its actions) and by a JVM shutdown hook
    * for sessions that never release. Entries carry the Hadoop conf so
    * non-local cluster paths delete through the right FileSystem. */
  private val scratch =
    ArrayBuffer.empty[(org.apache.hadoop.conf.Configuration, String)]
  @volatile private var hookArmed = false

  /** Register a scratch directory for deletion at [[releaseAll]] /
    * JVM exit. */
  def trackScratch(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = synchronized {
    scratch += ((spark.sparkContext.hadoopConfiguration, dir))
    if (!hookArmed) {
      hookArmed = true
      Runtime.getRuntime.addShutdownHook(new Thread(() => dropScratch()))
    }
  }

  private def dropScratch(): Unit = {
    val entries = synchronized { val e = scratch.toList; scratch.clear(); e }
    entries.foreach { case (conf, dir) =>
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(conf).delete(p, true)
      } catch { case _: Throwable => () }
    }
  }

  /** Persist `df` (default storage level) and remember it under `tag`.
    * Tags must be plain dotted identifiers: `Bench.tagBytesJson` embeds
    * them UNESCAPED in BENCH_DETAIL's JSON, so a quote or backslash in a
    * tag would corrupt the log — enforced here (r12 verdict task 6)
    * rather than assumed.
    *
    * RE-TRACK GUARD (r15 verdict item 6): tracking the same tag with a
    * plan-equal frame returns the EXISTING tracked frame instead of
    * persisting a second copy — two standalone operator calls over one
    * input (the stats-then-run cosine shape) otherwise doubled executor
    * cache memory and double-counted bench bytes under one tag. Equality
    * is the canonicalized ANALYZED plan (the r13 memo-key discipline);
    * same tag with a genuinely different plan (a second corpus in one
    * session) still gets its own entry. */
  def track(tag: String, df: DataFrame): DataFrame = synchronized {
    require(tag.matches("[A-Za-z0-9._-]+"),
      s"CacheRegistry tag must match [A-Za-z0-9._-]+ (JSON-safe, unescaped): '$tag'")
    val (planKey, fileKey) =
      try {
        if (failPlanKeysForTest) throw new IllegalStateException("test seam")
        PlanKey.of(df)
      } catch {
        case e: Throwable =>
          planKeyFailCtr.incrementAndGet()
          println(s"[graft] CacheRegistry.track('$tag'): PlanKey failed " +
            s"(${e.getClass.getSimpleName}) — re-track guard disabled for " +
            s"this call, a repeat track will persist a second copy " +
            s"(failures so far: ${planKeyFailCtr.get})")
          (null, "?")
      }
    val hit = if (planKey == null) None
      else tracked.collectFirst {
        case (t, pk, fk, p) if t == tag && pk == planKey && fk == fileKey => p
      }
    hit match {
      case Some(p) =>
        // a clearCache() that bypassed releaseAll() leaves the entry
        // registered but unpersisted — re-arm the cache on hit instead
        // of silently recomputing for the rest of the session
        val cached =
          try p.storageLevel != org.apache.spark.storage.StorageLevel.NONE
          catch { case _: Throwable => true }
        if (!cached) p.persist()
        p
      case None =>
        // the same plan may already be cached, under another tag or by
        // the caller's own persist: record the tag, but a second persist
        // only warns
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
        tracked += ((tag, planKey, fileKey, df))
        df
    }
  }

  /** Tags currently held — the audit surface for specs and bench logs. */
  def trackedTags: Seq[String] = synchronized { tracked.map(_._1).toSeq }

  /** (tag, memBytes + diskBytes) for every tracked frame — the
    * cache-pressure observability surface (r11 verdict task 8): Bench
    * logs this before each release so a cache that balloons (the
    * failure mode the sims-cache budget gate exists for) shows up in
    * BENCH_DETAIL per query, not only in probe post-mortems. Resolution
    * goes tracked plan → its `InMemoryRelation` → the cached-buffer
    * RDD's id → the block manager's storage info; a frame whose buffers
    * were never materialized (no action yet, or already evicted)
    * reports 0. Read-only: nothing is built or computed. */
  def trackedBytes(spark: org.apache.spark.sql.SparkSession): Seq[(String, Long)] = synchronized {
    val infos = spark.sparkContext.getRDDStorageInfo
    tracked.toSeq.map { case (tag, _, _, df) =>
      val bytes =
        try {
          val ids = df.queryExecution.withCachedData.collect {
            case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
              if r.cacheBuilder.isCachedColumnBuffersLoaded =>
              r.cacheBuilder.cachedColumnBuffers.id
          }.toSet
          infos.filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize).sum
        } catch { case _: Throwable => 0L }
      (tag, bytes)
    }
  }

  /** Unpersist everything tracked (non-blocking) and forget it.
    * Idempotent; frames already dropped by `clearCache()` unpersist as
    * a no-op.
    *
    * SCRATCH is STRONGER than unpersist (ADVICE r17): tracked scratch
    * directories are physically deleted, and a containment-family
    * result plan that reads one back fails later actions with
    * FileNotFoundException instead of recomputing. releaseAll is
    * therefore the session-owner's END-OF-CONSUMPTION barrier — in a
    * shared session, call it only once every consumer has finished (or
    * re-materialized) its frames, exactly as Bench does between timed
    * queries. The call-site contract is documented on
    * `Dedup.containmentPairs`. */
  def releaseAll(): Unit = {
    synchronized {
      tracked.foreach { case (_, _, _, df) =>
        try df.unpersist(false) catch { case _: Throwable => () }
      }
      tracked.clear()
    }
    dropScratch()
  }
}
