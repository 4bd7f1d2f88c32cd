package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, token counting, quality scoring, language ID,
  * fingerprinting. All pure column expressions (whole-stage codegen, no
  * UDFs) — at 100 TB these run inside the scan stage with zero shuffles.
  */
object TextOps {

  /** Lowercase, strip non-alphanumerics to spaces, squeeze whitespace.
    * One regex pass: `[^a-z0-9]+` already matches whitespace, so each
    * non-alphanumeric RUN (spaces included) collapses to a single
    * space and no second squeeze pass can ever fire — the historical
    * `" +" → " "` pass re-scanned every byte of every document for
    * nothing (r12: removing it roughly halves the normalize cost under
    * every text operator; output is byte-identical, all text oracles
    * unchanged). */
  def normalize(text: Column): Column =
    F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = F.split(normalize(text), " ")

  /** Token count (whitespace segmentation); empty text ⇒ 0. Counted as
    * spaces + 1 on the single-spaced normalized text (one `translate`
    * pass) — `size(split(...))` materialized every token as a string
    * just to take the array's length, which dominated q49's 100× probe
    * (r12: 11.8 s → the translate form; identical values, same oracle). */
  def tokenCount(text: Column): Column = {
    val n = normalize(text)
    F.when(F.length(n) === 0, F.lit(0))
      .otherwise(F.length(n) - F.length(F.translate(n, " ", "")) + 1)
  }

  /** A BPE-ish subword proxy count: words + digit runs + punctuation
    * marks, approximating tokenizer inflation without a vocab file. */
  def tokenCountBpeIsh(text: Column): Column =
    F.regexp_count(text, F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be")

  private def wordAltPattern(ws: Seq[String]): String =
    ws.mkString("\\b(", "|", ")\\b")

  /** Stopword hits in the normalized text (regexp count — codegen'd). */
  def stopwordCount(text: Column): Column =
    F.regexp_count(normalize(text), F.lit(wordAltPattern(stopwords)))

  /** Punctuation character count on the RAW text. */
  def punctCount(text: Column): Column =
    F.regexp_count(text, F.lit("[^A-Za-z0-9\\s]"))

  /** The score blend shared by both qualityScore forms — takes the four
    * integer columns so the arithmetic (and its double rounding) is
    * literally the same expression tree either way. */
  private def qualityBlend(len0: Column, toks0: Column,
                           stops: Column, punct: Column): Column = {
    val len = len0.cast("double")
    val toks = toks0.cast("double")
    val stopRatio = F.when(toks === 0, 0.0).otherwise(stops / toks)
    val punctRatio = F.when(len === 0, 0.0).otherwise(punct / len)
    val lenScore = F.least(len / 200.0, F.lit(1.0))
    // weights sum to 1; stopword presence is the strongest natural-language signal
    lenScore * 0.4 + F.least(stopRatio * 4.0, F.lit(1.0)) * 0.4 +
      (F.lit(1.0) - F.least(punctRatio * 5.0, F.lit(1.0))) * 0.2
  }

  /** Quality score ∈ [0,1]: blend of length band, stopword ratio and
    * punctuation ratio — the standard cheap pre-filter shape used before
    * expensive dedup/model scoring. Deterministic, oracle-expressible.
    *
    * Production path: the native `text_quality_stats` kernel — ONE
    * byte-level traversal (plus the lowercase pass) for all four
    * integers, replacing the stacked normalize/stopword-alternation/
    * punctuation regex scans that made q48 the heaviest honest map-only
    * row at the 100× probe (r12 verdict task 2). Byte-identical scores:
    * the kernel replicates the regex semantics exactly (spec-pinned on
    * unicode adversaries and the corpus; q48/q91 oracles unchanged).
    * Sessionless callers fall back to [[qualityScoreRegex]] — the same
    * documented fallback contract as the pipeline's UDF kernels. */
  def qualityScore(text: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.exprs.GraftFunctions.register(s)
        val st = F.call_function("text_quality_stats", text)
        qualityBlend(st.getField("len"), st.getField("tokens"),
          st.getField("stops"), st.getField("punct"))
      case None => qualityScoreRegex(text)
    }

  /** The regex-pipeline form of [[qualityScore]] — semantic reference for
    * the kernel (each input column is the documented regex operator) and
    * the sessionless fallback. */
  def qualityScoreRegex(text: Column): Column =
    qualityBlend(F.length(text), tokenCount(text),
      stopwordCount(text), punctCount(text))

  /** Per-group quality gate: keep documents whose quality score sits at
    * or above the `pct` percent-rank WITHIN their group (source/domain).
    * A single global threshold lets one high-scoring domain crowd out
    * every low-register source; the per-source relative cut keeps the
    * best `1-pct` slice of EACH source — the mixture-preserving form of
    * quality filtering.
    *
    * Exact percent_rank is (rank−1)/(n−1) on integers over a
    * deterministic (score, id) order, so any engine replays the same
    * cut. One shuffle on the group key + per-group sort; at extreme
    * per-group row counts use [[qualityGateApprox]] (same filter shape,
    * sketch threshold instead of a per-group sort) — [[qualityGateAuto]]
    * picks by corpus size. */
  def qualityGate(docs: DataFrame, idCol: String, textCol: String,
                  groupCol: String, pct: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(F.col("__q"), F.col(idCol))
    docs
      .withColumn("__q", qualityScore(F.col(textCol)))
      .withColumn("__pr", F.percent_rank().over(w))
      .filter(F.col("__pr") >= pct)
      .select(F.col(idCol), F.col(groupCol), F.round(F.col("__q"), 6).as("quality"))
  }

  /** Degradation path of [[qualityGate]] for extreme per-group row
    * counts (r10 verdict task 5): the exact gate fully SORTS each group
    * inside a window — at a billion rows per source that sort (and its
    * single-group skew) dominates. Here the per-group threshold comes
    * from `approx_percentile` — a partial-aggregable KLL-style sketch,
    * so the shuffle carries one sketch per (partition, group) instead
    * of every row through a sort — and the filter shape is unchanged:
    * keep rows with score ≥ their group's threshold.
    *
    * Error bound: Spark's ApproximatePercentile guarantees rank error
    * ≤ n/accuracy per group, so the kept fraction deviates from
    * (1−pct) by at most 1/accuracy of the group (plus score ties,
    * which the exact gate splits by id but a value threshold keeps or
    * drops together). At the default accuracy the cut is within 0.01%
    * of exact — the spec pins both the subset relation and the bound
    * on skewed groups. Thresholds are one row per group (sources are
    * few), so the join back is a broadcast. */
  def qualityGateApprox(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String, pct: Double,
                        accuracy: Int = 10000): DataFrame = {
    // Score ONCE: both the threshold aggregation and the final filter
    // need __q, and re-deriving it re-scans the text and re-pays the
    // regexp-heavy score — the r11 100× probe measured the two-scan
    // form at 2× the EXACT gate's wall-clock (scoring dominates this
    // corpus, not the sort). The tracked cache holds only (id, group,
    // __q) scalars — ~24 B/row, far below the text it replaces — and
    // is released by the session's CacheRegistry sweep.
    val scored = graft.core.CacheRegistry.track("qualityGateApprox.scored",
      docs.withColumn("__q", qualityScore(F.col(textCol)))
        .select(F.col(idCol), F.col(groupCol), F.col("__q")))
    val thr = scored.groupBy(groupCol)
      .agg(F.percentile_approx(F.col("__q"), F.lit(pct), F.lit(accuracy)).as("__thr"))
    scored.join(F.broadcast(thr), groupCol)
      .filter(F.col("__q") >= F.col("__thr"))
      .select(F.col(idCol), F.col(groupCol), F.round(F.col("__q"), 6).as("quality"))
  }

  /** Gate dispatcher: exact percent-rank below `approxAbove` corpus
    * rows, sketch threshold above it. The size probe is the memoized
    * per-(plan, file-state) count the width-sizing paths already share
    * (one metadata-cheap job per session); if it fails the dispatch
    * falls back to the exact gate — correctness never depends on the
    * probe. Oracle entries keep calling [[qualityGate]] directly so the
    * replayed cut stays bit-exact at any size. */
  def qualityGateAuto(docs: DataFrame, idCol: String, textCol: String,
                      groupCol: String, pct: Double,
                      approxAbove: Long = 50000000L,
                      accuracy: Int = 10000): DataFrame = {
    val n = graft.core.Estimates.count(docs.select(F.col(idCol))).getOrElse(-1L)
    if (n > approxAbove)
      qualityGateApprox(docs, idCol, textCol, groupCol, pct, accuracy)
    else qualityGate(docs, idCol, textCol, groupCol, pct)
  }

  /** Language marker lexicons for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the operator shape (N marker scans +
    * argmax, one pass, no shuffle) is what matters at scale. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "this", "with"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "como"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans", "pour", "sur"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"))

  /** Per-language marker-hit counts → argmax language, "und" when no
    * marker hits at all. Tie-break = lexicon order (en first). */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, ws) =>
      lang -> F.regexp_count(normalize(text), F.lit(wordAltPattern(ws)))
    }
    val best = scores.map(_._2).reduce((a, b) => F.greatest(a, b))
    scores.foldRight(F.lit("und"): Column) { case ((lang, s), acc) =>
      F.when(best > 0 && s === best, F.lit(lang)).otherwise(acc)
    }
  }

  /** Document fingerprint: hash of the normalized text. md5 keeps it
    * oracle-checkable; xxhash64 is the cheap variant for joins. */
  def fingerprintMd5(text: Column): Column = F.md5(F.encode(normalize(text), "UTF-8"))
  def fingerprint64(text: Column): Column = F.xxhash64(normalize(text))

  /** Duplicate word-n-gram fraction — the Gopher-class repetitiousness
    * signal (fraction of n-gram instances that repeat an earlier n-gram
    * in the same document): 1 − distinct/total; fewer than n tokens ⇒ 0.
    *
    * Distinct n-grams come from the native `Shingles` codegen expression
    * (one compiled call per row); total is plain arithmetic on the token
    * count — the whole metric runs inside the scan stage, zero shuffles.
    * The result is exact: two integers and a single IEEE division, so it
    * is bit-identical across engines with no rounding step. */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val toks = tokenCount(text)
    val total = (toks - F.lit(n - 1)).cast("double")
    val distinct = F.size(Dedup.shingles(text, n)).cast("double")
    F.when(toks < n, F.lit(0.0)).otherwise(F.lit(1.0) - (distinct / total))
  }

  /** One-pass `struct<tokens, d2, d3>` for the repetition metrics — the
    * native [[graft.exprs.DupNgramStats]] kernel (r21). The expression
    * form above re-evaluates the normalize regex once per column
    * reference (q66's projection held ~17 references) plus a split and
    * two shingle kernels; this is one compiled call per row. Project it
    * into its OWN named column first and read fields from that —
    * CollapseProject keeps a non-cheap expression referenced more than
    * once in its own projection, so the kernel runs once per row. */
  def dupNgramStats(text: Column): Column = {
    graft.exprs.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    F.call_function("dup_ngram_stats", text)
  }

  /** `dupNgramFraction(text, n)` from a pre-projected [[dupNgramStats]]
    * struct — bit-identical arithmetic (same Int inputs, same cast/
    * divide tree) without re-running the kernel. n must be 2 or 3. */
  def dupNgramFractionFromStats(stats: Column, n: Int): Column = {
    require(n == 2 || n == 3, s"dupNgramFractionFromStats: n=$n not in {2,3}")
    val toks = stats.getField("tokens")
    val total = (toks - F.lit(n - 1)).cast("double")
    val distinct = stats.getField(s"d$n").cast("double")
    F.when(toks < n, F.lit(0.0)).otherwise(F.lit(1.0) - (distinct / total))
  }

  /** md5 content hashes of the non-overlapping full `size`-token chunks
    * of a pre-materialized token array (partial tail chunk dropped).
    *
    * Takes the TOKEN column, not text: inside an interpreted
    * higher-order lambda a captured subtree is re-evaluated per element,
    * so capturing `tokens(text)` would re-run the normalization regexes
    * once per chunk. Capturing a bound attribute makes each chunk one
    * slice+join+md5. Chunks, not whole docs, are the unit of cross-doc
    * exact dedup in web-scale curation (boilerplate repeats at chunk
    * granularity while full documents rarely match exactly). */
  def chunkHashesFromTokens(toks: Column, size: Int): Column = {
    val nc = F.floor(F.size(toks) / size).cast("int")
    F.when(nc === 0, F.array().cast("array<string>")).otherwise(
      F.transform(F.sequence(F.lit(0), nc - 1), i =>
        F.md5(F.encode(F.concat_ws(" ", F.slice(toks, i * size + 1, F.lit(size))), "UTF-8"))))
  }

  /** JVM kernels for the chunk/k-gram/winnow family. A higher-order
    * `transform` is CodegenFallback in Spark — the whole projection
    * drops out of codegen and every element pays interpreted-eval
    * overhead (slice + concat + md5 per chunk). One compiled kernel
    * call per row removes that boundary; results are bit-identical to
    * the expression forms (cross-checked by ScalaTest) so the DuckDB
    * oracles pin both. */
  private def md5Hex(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  /** First 60 bits of an md5 digest — equals
    * conv(substring(md5(s),1,15),16,10): 15 hex chars = top 7.5 bytes. */
  private def md5Top60(s: String): Long = {
    val d = md5Hex(s)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Null text propagates a null token array into these kernels (Spark
    * passes null reference args to Scala UDFs verbatim) — routine in web
    * corpora, so null in ⇒ null out, matching the expression forms
    * (`chunkHashesFromTokens`/`winnow` are null-propagating `when`
    * chains and the native `Shingles` is nullSafeEval). */
  private val chunkHashKernel = F.udf { (toks: Seq[String], size: Int) =>
    if (toks == null) null
    else {
      val n = toks.size / size
      (0 until n).map { i =>
        val d = md5Hex(toks.slice(i * size, i * size + size).mkString(" "))
        d.map(b => f"$b%02x").mkString
      }
    }
  }

  private val winnowKernel = F.udf { (toks: Seq[String], k: Int, w: Int) =>
    if (toks == null) null
    else if (toks.size < k) Seq.empty[Long]
    else {
      val h = toks.sliding(k).map(g => md5Top60(g.mkString(" "))).toArray
      val fps =
        if (h.length <= w) Array(h.min)
        else Array.tabulate(h.length - w + 1)(j => h.slice(j, j + w).min)
      fps.distinct.sorted.toSeq
    }
  }

  private val distinctKgramKernel = F.udf { (toks: Seq[String], k: Int) =>
    if (toks == null) null
    else if (toks.size < k) Seq.empty[Long]
    else toks.sliding(k).map(g => md5Top60(g.mkString(" "))).toArray.distinct.toSeq
  }

  /** Kernel forms (production path for the hot pipeline stages). */
  def chunkHashesKernel(toks: Column, size: Int): Column =
    chunkHashKernel(toks, F.lit(size))
  def winnowFromTokens(toks: Column, k: Int, w: Int): Column =
    winnowKernel(toks, F.lit(k), F.lit(w))
  /** Distinct 60-bit k-gram hashes per document (the SET of k-grams, no
    * positions) — the unit of the containment/overlap family. Same hash
    * as `kgramHashes`, so DuckDB replays it verbatim. */
  def distinctKgramHashes(toks: Column, k: Int): Column =
    distinctKgramKernel(toks, F.lit(k))

  /** Positional 60-bit k-gram hashes (in order, WITH duplicates — unlike
    * `Dedup.shingles`, which is distinct): first 60 bits of md5 of each
    * space-joined k-gram, the engine-portable hash also used by
    * `Sampling.hashBp`. Takes the token COLUMN (bound attribute, see
    * `chunkHashesFromTokens` for why). Fewer than k tokens ⇒ empty. */
  def kgramHashes(toks: Column, k: Int): Column = {
    val n = F.size(toks)
    F.when(n < k, F.array().cast("array<long>")).otherwise(
      F.transform(F.sequence(F.lit(0), n - k), i =>
        F.conv(F.substring(F.md5(F.encode(
          F.concat_ws(" ", F.slice(toks, i + 1, F.lit(k))), "UTF-8")), 1, 15), 16, 10)
          .cast("long")))
  }

  /** Winnowing fingerprints (the MOSS rolling-hash scheme): the minimum
    * k-gram hash of every sliding window of `w` consecutive k-grams,
    * deduplicated and sorted. Guarantees any shared run of ≥ w+k−1
    * tokens between two documents yields at least one shared
    * fingerprint, while storing ~2/(w+1) of the hashes — the
    * sub-document dedup/attribution primitive. Scan-stage only. */
  def winnow(hashes: Column, w: Int): Column = {
    val m = F.size(hashes)
    F.array_sort(F.array_distinct(
      F.when(m === 0, F.array().cast("array<long>"))
        .when(m <= w, F.array(F.array_min(hashes)))
        .otherwise(F.transform(F.sequence(F.lit(0), m - w), j =>
          F.array_min(F.slice(hashes, j + 1, F.lit(w)))))))
  }

  /** Per-document mean unigram log-probability — the perplexity-proxy
    * quality signal (a unigram LM standing in for KenLM): for each token
    * instance, ln(corpusCount(term)/corpusTokens), averaged per doc.
    * Rare-word-heavy or garbled documents score far below fluent text.
    *
    * Shape at scale: one explode + (doc,term) aggregation, the corpus
    * unigram table comes back BROADCAST (vocabulary-sized), and the
    * per-doc mean sums round(ln, 6) through exact decimals so the
    * result is partition-order-independent (same layered fixed-point
    * discipline as `Embeddings.clusterStats`). */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs
      .filter(F.length(normalize(F.col(textCol))) > 0)
      .select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("term"))
    val tf = terms.groupBy(idCol, "term").agg(F.count(F.lit(1)).as("tf"))
    val uni = tf.groupBy("term").agg(F.sum("tf").as("cnt"))
    val n = uni.select(F.sum("cnt").as("__n"))
    tf.join(F.broadcast(uni), "term")
      .crossJoin(F.broadcast(n))
      .withColumn("__lp",
        F.round(F.log(F.col("cnt").cast("double") / F.col("__n")), 6)
          .cast("decimal(18,6)") * F.col("tf"))
      .groupBy(idCol)
      .agg(F.sum("tf").as("n_tokens"),
        F.round(F.sum(F.col("__lp")).cast("double") / F.sum("tf"), 4).as("logprob"))
  }

  /** TF-IDF: term frequencies per document joined with corpus document
    * frequencies. Emits one row per (doc, term) with tf, df and
    * tfidf = tf · ln(N/df).
    *
    * Shape at scale: explode(tokens) is a scan-stage row expansion
    * (bounded by token count, no payload copies — the text column is
    * dropped before the explode's output moves); tf is one hash
    * aggregation on (doc, term); df reuses the SAME shuffled data — it
    * re-aggregates tf's output by term (rows = distinct (doc,term), far
    * smaller than token instances) and comes back as a broadcast-sized
    * (term, df) dim for vocabulary-scale joins. N rides along as a
    * scalar via a cross-joined 1-row frame (no driver collect).
    */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs
      .filter(F.length(normalize(F.col(textCol))) > 0)
      .select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("term"))
    val tf = terms.groupBy(idCol, "term").agg(F.count(F.lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(F.count(F.lit(1)).as("df"))
    val n = docs.select(F.countDistinct(F.col(idCol)).as("__n"))
    tf.join(F.broadcast(df), "term")
      .crossJoin(F.broadcast(n))
      .withColumn("tfidf", F.col("tf") * F.log(F.col("__n") / F.col("df").cast("double")))
      .drop("__n")
  }

  /** Sliding-window token chunks (kernel): windows of `window` tokens
    * starting every `stride` tokens — the overlap-chunking shape
    * training-sequence and RAG pipelines cut documents with (stride <
    * window ⇒ overlapping context, stride = window ⇒ the disjoint
    * `chunkHashesFromTokens` tiling). Every start k·stride < n emits,
    * so tail windows may be short but no token is unreachable; null
    * tokens ⇒ null (web-corpus contract of the kernel family). */
  private val slidingChunkKernel = F.udf { (toks: Seq[String], window: Int, stride: Int) =>
    if (toks == null) null
    else {
      val n = toks.size
      val starts = 0 until n by stride
      starts.map(s => toks.slice(s, math.min(s + window, n)).mkString(" "))
    }
  }

  def slidingChunks(toks: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0, s"window=$window stride=$stride must be positive")
    slidingChunkKernel(toks, F.lit(window), F.lit(stride))
  }

  /** Corpus profile ("dataset card" rollup): per (source, lang) — doc
    * count, token and char volume, distinct exact-content count (the
    * cheap duplication headline), and mean quality. The one-page
    * reality check a curation run starts and ends with.
    *
    * Engine parity: mean quality sums per-doc scores ROUNDED to 6
    * decimals through exact decimals (order-independent — the layered
    * fixed-point discipline of q75), then divides once in doubles.
    *
    * Shape at scale: one hash aggregation with map-side combine; the
    * distinct-content count rides the same shuffle keyed by (group,
    * md5) — no sort, no window, nothing corpus-quadratic. */
  def corpusProfile(docs: DataFrame, sourceCol: String, langCol: String,
                    textCol: String): DataFrame =
    docs.groupBy(F.col(sourceCol), F.col(langCol))
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        // all-null-text groups sum to null — report 0 volume instead
        F.coalesce(F.sum(tokenCount(F.col(textCol)).cast("long")), F.lit(0L)).as("n_tokens"),
        F.sum(F.coalesce(F.length(F.col(textCol)).cast("long"), F.lit(0L))).as("n_chars"),
        F.countDistinct(fingerprintMd5(F.col(textCol))).as("n_unique"),
        F.round(
          (F.sum(F.round(qualityScore(F.col(textCol)), 6).cast("decimal(18,6)"))
            .cast("double") / F.count(F.lit(1))), 6).as("mean_quality"))

  /** The distinct k-gram vocabulary of a reference corpus — the stored
    * artifact `ngramNoveltyFromVocab` consumes. One column `g` (60-bit
    * md5 k-gram hash, the engine-portable hash the whole gram family
    * shares). At 100 TB persist it bucketed on `g`
    * (`TadaIO.writeBucketed`): the novelty join below is then
    * shuffle-free on the vocabulary side, and nightly snapshot growth
    * appends without re-shuffling the accumulated vocabulary. */
  def refGramVocab(ref: DataFrame, textCol: String, k: Int = 3): DataFrame =
    ref.select(F.explode(distinctKgramHashes(tokens(F.col(textCol)), k)).as("g"))
      .distinct()

  /** Per-document n-gram NOVELTY against a reference corpus: the
    * fraction of the document's distinct k-grams absent from the
    * reference vocabulary. The data-value / memorization twin of the
    * q76 contamination check — contamination asks "does this eval doc
    * leak into training?", novelty asks "how much of this candidate
    * batch is new information vs what the corpus already holds?" (dedup
    * triage, snapshot-over-snapshot crawl value, curriculum scoring).
    *
    * Docs with no k-grams (shorter than k tokens, or null text) surface
    * with n_grams = 0 and null novelty — kept, not dropped, so a
    * curation funnel can route them explicitly.
    *
    * Shape at scale: both sides collapse to (g) / (id, g) scalar rows;
    * the membership probe is one equi-join on g (shuffle-free on the
    * vocabulary side when the vocab is stored bucketed on g) and the
    * rollup is one hash aggregation on id with map-side combine. No
    * payloads move; nothing is quadratic. */
  def ngramNoveltyFromVocab(vocab: DataFrame, docs: DataFrame,
                            idCol: String, textCol: String, k: Int = 3): DataFrame = {
    // PRECONDITION (same family contract as sourceChunkOverlapFromIndex):
    // `vocab.g` must be DISTINCT — a duplicated vocabulary row fans out
    // the membership join and silently inflates n_grams. `refGramVocab`
    // and the bucketed store qualify by construction; re-distincting
    // here would double-pay the shuffle the stored artifact already paid.
    val tg = docs.select(F.col(idCol),
      F.explode_outer(distinctKgramHashes(tokens(F.col(textCol)), k)).as("g"))
    tg.join(vocab.select(F.col("g"), F.lit(1).as("__hit")), Seq("g"), "left")
      .groupBy(idCol)
      .agg(F.count(F.col("g")).as("n_grams"),
        F.sum(F.when(F.col("g").isNotNull && F.col("__hit").isNull, 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        F.when(F.col("n_grams") === 0, F.lit(null).cast("double"))
          .otherwise(F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 6)))
  }

  /** Novelty against an inline reference frame — builds the vocabulary
    * and probes it in one plan (the ad-hoc form; stored pipelines use
    * `refGramVocab` + `ngramNoveltyFromVocab` so the vocabulary is
    * computed once per snapshot, not once per scoring run). */
  def ngramNovelty(docs: DataFrame, ref: DataFrame,
                   idCol: String, textCol: String, k: Int = 3): DataFrame =
    ngramNoveltyFromVocab(refGramVocab(ref, textCol, k), docs, idCol, textCol, k)
}
