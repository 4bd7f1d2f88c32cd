package graft.queries

import graft.Tables
import graft.pipeline._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** Training-data pipeline operators (SURVEY.md §7.5 north star):
  * deduplication, similarity search, text analysis, multimodal columns.
  * SQL-expressible ops carry DuckDB oracles; LSH/ANN ops are rows-only
  * (their correctness is pinned by ScalaTest fixtures with known ground
  * truth instead).
  */
object PipelineQueries extends QueryPack {

  /** The test corpus has no exact duplicates, so dedup demos operate on
    * corpus ∪ shifted-copy — every doc then has exactly one exact dup,
    * giving the operators deterministic, non-empty ground truth. */
  private def dupedDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    // One scan yields both copies. No repartition: the simhash queries'
    // null filter is pushed below their projection, so the scan stage
    // runs the kernel anyway, and the exchange would cost a generated
    // stage per query. So both kernel evaluations per doc (the filter's
    // and the projection's) share the scan task, one task on the
    // one-split local corpus; once that pushdown is stopped, spreading
    // the docs ahead of the kernel pays again. Queries with a heavy
    // per-doc kernel after the scan spread the docs first (real corpora
    // arrive pre-split).
    Tables.documents(s, dir)
      .select(F.explode(F.array(F.lit(0), F.lit(1000000))).as("shift"),
        F.col("doc_id"), F.col("text"))
      .select((F.col("doc_id") + F.col("shift")).as("doc_id"), F.col("text"))

  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"

  /** DuckDB replica of `Similarity.ivfTopK` (q56's oracle): the fixed
    * two Lloyd rounds unroll into CTEs — init takes the `nlist`
    * lowest-id vectors, each round assigns every vector to its rank-1
    * cell by cosine and re-averages per-dim means cast to float — then
    * indexing (rank-1 cell), probing (rank ≤ nprobe cells per query)
    * and the exact within-candidate ranking. `dims` is baked in because
    * DuckDB table functions reject subqueries as bounds. */
  private def ivfSql(nlist: Int, nprobe: Int, k: Int, dims: Int): String = {
    def assign(cent: String, out: String): String = s"""
        $out AS (
          SELECT vec_id, cell FROM (
            SELECT c.vec_id, ct.cell,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY list_cosine_similarity(c.embedding, ct.centroid) DESC,
                              ct.cell) AS rk
            FROM embeddings c CROSS JOIN $cent ct)
          WHERE rk = 1)"""
    def reavg(a: String, out: String): String = s"""
        $out AS (
          SELECT cell, list(m ORDER BY dim) AS centroid FROM (
            SELECT $a.cell, i AS dim, CAST(avg(CAST(c.embedding[i] AS DOUBLE)) AS FLOAT) AS m
            FROM embeddings c JOIN $a ON c.vec_id = $a.vec_id
            CROSS JOIN range(1, ${dims + 1}) r(i)
            GROUP BY 1, 2)
          GROUP BY cell)"""
    s"""
        WITH init AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS cell, embedding AS centroid
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $nlist)),
        ${assign("init", "a1")},
        ${reavg("a1", "cent1")},
        ${assign("cent1", "a2")},
        ${reavg("a2", "cent2")},
        indexed AS (
          SELECT vec_id AS neighbor_id, cell FROM (
            SELECT c.vec_id, ct.cell,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY list_cosine_similarity(c.embedding, ct.centroid) DESC,
                              ct.cell) AS rk
            FROM embeddings c CROSS JOIN cent2 ct)
          WHERE rk = 1),
        probes AS (
          SELECT vec_id AS query_id, cell FROM (
            SELECT q.vec_id, ct.cell,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.embedding, ct.centroid) DESC,
                              ct.cell) AS rk
            FROM embeddings q CROSS JOIN cent2 ct
            WHERE q.vec_id < 10)
          WHERE rk <= $nprobe)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT p.query_id, i.neighbor_id,
                 row_number() OVER (PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                            i.neighbor_id) AS rank
          FROM probes p
          JOIN indexed i ON p.cell = i.cell AND i.neighbor_id <> p.query_id
          JOIN embeddings q ON q.vec_id = p.query_id
          JOIN embeddings c ON c.vec_id = i.neighbor_id)
        WHERE rank <= $k
        ORDER BY query_id, rank
    """
  }

  /** DuckDB replica of `Similarity.hyperplaneBucket`: fixed-point
    * projections under md5-derived integer coordinates. Exact integer
    * arithmetic end-to-end, so the replayed bucket matches Spark's
    * bit-for-bit — no float-accumulation escape hatch. */
  private def bucketSql(vec: String, planes: Int, seed: Int = 42): String = {
    val bits = (0 until planes).map { p =>
      val proj =
        s"""list_sum([CAST(floor(CAST($vec[i] AS DOUBLE) * 1048576) AS BIGINT)
           |  * ((('0x' || substr(md5('$seed:$p:' || CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 1000) - 500)
           |  FOR i IN range(1, len($vec) + 1)])""".stripMargin
      s"(CASE WHEN ($proj) >= 0 THEN ${1L << p} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  def queries: Seq[Query] = Seq(
    // Exact dedup: hash-groupBy on a 128-bit content key. The shuffle
    // carries (key, id) only — at 100 TB the payload never moves.
    Query(
      "q40_exact_dedup",
      (s, dir) => {
        val docs = dupedDocs(s, dir).repartition(s.sparkContext.defaultParallelism)
        docs.select(Dedup.exactKey(F.col("text")).as("content_key"), F.col("doc_id"))
          .groupBy("content_key")
          .agg(F.count(F.lit(1)).as("n_copies"), F.min("doc_id").as("keeper"))
          .filter(F.col("n_copies") > 1)
          .orderBy("content_key")
      },
      Some(s"""
        SELECT md5($normSql) AS content_key,
               count(*) AS n_copies, min(doc_id) AS keeper
        FROM (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 1000000, text FROM documents)
        GROUP BY 1 HAVING count(*) > 1
        ORDER BY content_key
      """)),

    // MinHash + LSH near-dup: shingle → 32 minhashes → 8 bands × 4 rows →
    // bucket-join candidates → exact n-gram Jaccard verify. Linear in
    // corpus size; candidate buckets capped against boilerplate blowup.
    Query(
      "q41_minhash_lsh",
      (s, dir) => {
        // persist the per-doc (shingles, bands): candidate generation and
        // both verify joins reuse it — without the barrier the whole
        // shingle+32-minhash expression tree is recomputed per use (and
        // per band slice), which is catastrophic at any scale
        val docs = dupedDocs(s, dir).repartition(s.sparkContext.defaultParallelism)
          .select(F.col("doc_id"), Dedup.shingles(F.col("text")).as("sh"))
          .select(F.col("doc_id"), F.col("sh"),
            Dedup.bandKeysDirect(F.col("sh"), k = 32, bands = 8).as("bands"))
          .persist()
        val cand = Dedup.candidatePairs(docs, "doc_id", "bands")
        val withSets = cand
          .join(docs.select(F.col("doc_id").as("id_a"), F.col("sh").as("sh_a")), "id_a")
          .join(docs.select(F.col("doc_id").as("id_b"), F.col("sh").as("sh_b")), "id_b")
        withSets.select(F.col("id_a"), F.col("id_b"),
            Dedup.jaccard(F.col("sh_a"), F.col("sh_b")).as("jaccard"))
          .filter(F.col("jaccard") >= 0.8)
          .orderBy("id_a", "id_b")
      },
      // Recall-containment oracle: DuckDB computes the EXACT set of
      // Jaccard≥0.8 pairs independently of LSH (a prefix-filtered
      // AllPairs set-similarity join — two sets with J≥θ must share an
      // element within the first n−⌈θn⌉+1 of any global order, so the
      // sorted-prefix equi-join is a provably complete candidate set).
      // Spark's output is (LSH candidates ∩ {J≥0.8}), so hash-equality
      // holds iff LSH candidates ⊇ every true J≥0.8 pair — the
      // containment the approximate path must deliver. The jaccard
      // doubles match bit-for-bit: |∩|/|∪| of small ints divides to the
      // identical IEEE double on both engines (q43 precedent).
      Some(s"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
        ws AS (SELECT doc_id, string_split($normSql, ' ') AS ws FROM docs),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                      ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                          FOR i IN range(1, len(ws) - 1)])
                 END AS sh
          FROM ws),
        pref AS (
          SELECT doc_id,
                 unnest(list_sort(sh)[1 : len(sh) - CAST(ceil(0.8 * len(sh)) AS INT) + 1]) AS g
          FROM sh),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, jaccard FROM (
          SELECT id_a, id_b,
                 CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
          FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
                    JOIN sh sb ON cand.id_b = sb.doc_id)
        WHERE jaccard >= 0.8
        ORDER BY id_a, id_b
      """)),

    // Incremental near-dup: a NEW batch (shifted copy) deduped against
    // the EXISTING corpus index — the daily-ingest shape. The index is
    // hashed once and never re-paired against itself; candidates come
    // from one batch×index band-key join. Oracle: the exact set of
    // cross-set Jaccard≥0.8 pairs via the same prefix-filtered AllPairs
    // join as q41 — hash-equality iff the incremental path finds every
    // true (index, batch) pair.
    Query(
      "q80_incremental_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(F.col("doc_id"), F.col("text"))
          .repartition(s.sparkContext.defaultParallelism)
        val index = Dedup.lshIndex(d, "doc_id", "text").persist()
        val batch = Dedup.lshIndex(
          d.select((F.col("doc_id") + 1000000).as("doc_id"), F.col("text")),
          "doc_id", "text").persist()
        Dedup.incrementalPairs(index, batch, 0.8)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
        ws AS (SELECT doc_id, string_split($normSql, ' ') AS ws FROM docs),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                      ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                          FOR i IN range(1, len(ws) - 1)])
                 END AS sh
          FROM ws),
        pref AS (
          SELECT doc_id,
                 unnest(list_sort(sh)[1 : len(sh) - CAST(ceil(0.8 * len(sh)) AS INT) + 1]) AS g
          FROM sh),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM pref a JOIN pref b
            ON a.g = b.g AND a.doc_id < 1000000 AND b.doc_id >= 1000000)
        SELECT id_a, id_b, jaccard FROM (
          SELECT id_a, id_b,
                 CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
          FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
                    JOIN sh sb ON cand.id_b = sb.doc_id)
        WHERE jaccard >= 0.8
        ORDER BY id_a, id_b
      """)),

    // SimHash near-dup EDGES: 64-bit sign fingerprint, identical words
    // collapsed to their min-id representative, 4×16-bit bands between
    // DISTINCT words, Hamming ≤ 3 verification. This re-shapes the
    // retired doc-pair contract (r10 VERDICT #7): enumerating doc-level
    // pairs is quadratic in duplicate-cluster size BY CONTRACT (the 10×
    // probe measured exponent 1.41 on it — a duplication-factor
    // blowup no implementation can fix), while the word-edge surface is
    // bounded by the distinct-word near-dup graph. q79 remains the
    // canonical cluster consumer; this is the edge-level audit surface.
    Query(
      "q42_simhash_edges",
      (s, dir) => {
        // The bucket cap must sit ABOVE the largest correlated WORD
        // cluster, or real Hamming≤3 edges fall out of the candidate
        // set (the q42 lesson: a 582-doc 16-bit-chunk bucket at sf0.1
        // with a cap of 32 dropped 466 true pairs — caught by this
        // oracle). Word collapse shrinks buckets (identical docs are
        // one word), so 4096 keeps recall 1 with wide margin while
        // still guarding against a degenerate all-words bucket. The cap
        // is judged in a pair's lowest shared band only: a pair whose
        // lowest shared bucket is over it is lost, even when a higher
        // shared bucket is within it.
        Dedup.simhashWordEdges(dupedDocs(s, dir), "doc_id", "text",
            maxHamming = 3, maxBucket = 4096)
          .orderBy("id_a", "id_b")
      },
      // Recall-containment oracle: DuckDB replays the 64-bit simhash
      // word itself (the token hash is the first 8 md5 bytes precisely
      // so both engines carry identical bits — SimHash64.tokenHash64),
      // collapses identical words to min(doc_id), and lists ALL
      // Hamming≤3 representative pairs by brute force. A Hamming≤3
      // pair differs in ≤3 of the four 16-bit bands, so it must share
      // ≥1 band — banding is structurally recall-1 — and hash-equality
      // further asserts that no qualifying pair fell to the bucket cap.
      Some(s"""
        WITH docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
        toks AS (
          SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM docs),
        th AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
        bits AS (
          SELECT doc_id, i,
                 sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM th CROSS JOIN range(64) r(i)
          GROUP BY doc_id, i),
        sim AS (
          SELECT doc_id,
                 bit_or(CASE WHEN s > 0 THEN (1::UBIGINT << CAST(i AS INT))
                        ELSE 0::UBIGINT END) AS w
          FROM bits GROUP BY doc_id),
        words AS (SELECT w, min(doc_id) AS rep FROM sim GROUP BY w)
        SELECT a.rep AS id_a, b.rep AS id_b,
               CAST(bit_count(xor(a.w, b.w)) AS INT) AS hamming
        FROM words a, words b
        WHERE a.rep < b.rep AND bit_count(xor(a.w, b.w)) <= 3
        ORDER BY id_a, id_b
      """)),

    // SimHash duplicate-CLUSTER resolution — the production consumer of
    // banded simhash (pair ENUMERATION is quadratic in cluster size;
    // cluster labels are not). Identical words collapse before any
    // pairing, Hamming verification runs between distinct words only,
    // connected components resolve transitivity. Oracle: the same
    // simhash words replayed in SQL, word-level Hamming≤3 edges, and a
    // recursive-CTE reachability closure — so banding, the cap, the
    // word collapse AND the cluster labels are all hash-checked.
    Query(
      "q79_simhash_clusters",
      (s, dir) => {
        Dedup.simhashClusters(dupedDocs(s, dir), "doc_id", "text")
          .orderBy("id")
      },
      Some(s"""
        WITH RECURSIVE docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
        toks AS (
          SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM docs),
        th AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
        bits AS (
          SELECT doc_id, i,
                 sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM th CROSS JOIN range(64) r(i)
          GROUP BY doc_id, i),
        sim AS (
          SELECT doc_id,
                 bit_or(CASE WHEN s > 0 THEN (1::UBIGINT << CAST(i AS INT))
                        ELSE 0::UBIGINT END) AS w
          FROM bits GROUP BY doc_id),
        words AS (SELECT w, min(doc_id) AS rep FROM sim GROUP BY w),
        wedges AS (
          SELECT a.rep AS src, b.rep AS dst
          FROM words a, words b
          WHERE a.rep < b.rep AND bit_count(xor(a.w, b.w)) <= 3),
        undirected AS (
          SELECT src, dst FROM wedges UNION SELECT dst, src FROM wedges),
        reach(id, r) AS (
          SELECT src, src FROM undirected
          UNION
          SELECT u.dst, reach.r FROM undirected u JOIN reach ON u.src = reach.id),
        wcluster AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
        SELECT s.doc_id AS id, coalesce(wc.cluster, w.rep) AS cluster
        FROM sim s JOIN words w ON s.w = w.w
        LEFT JOIN wcluster wc ON w.rep = wc.id
        ORDER BY id
      """)),

    // Keeper selection over simhash clusters: one keep=true per
    // transitive near-dup set — the HIGHEST-priority member (char
    // length here; quality score in production), ties to the lowest id.
    // Oracle: q79's recursive-CTE closure extended with the same
    // priority and a per-cluster ranking window.
    Query(
      "q82_dedup_keepers",
      (s, dir) => {
        val docs = dupedDocs(s, dir)
        val clusters = Dedup.simhashClusters(docs, "doc_id", "text")
        val priority = docs.select(F.col("doc_id").as("id"),
          F.length(F.col("text")).as("priority"))
        Dedup.resolveKeepers(clusters, priority).orderBy("id")
      },
      Some(s"""
        WITH RECURSIVE docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
        toks AS (
          SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM docs),
        th AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
        bits AS (
          SELECT doc_id, i,
                 sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM th CROSS JOIN range(64) r(i)
          GROUP BY doc_id, i),
        sim AS (
          SELECT doc_id,
                 bit_or(CASE WHEN s > 0 THEN (1::UBIGINT << CAST(i AS INT))
                        ELSE 0::UBIGINT END) AS w
          FROM bits GROUP BY doc_id),
        words AS (SELECT w, min(doc_id) AS rep FROM sim GROUP BY w),
        wedges AS (
          SELECT a.rep AS src, b.rep AS dst
          FROM words a, words b
          WHERE a.rep < b.rep AND bit_count(xor(a.w, b.w)) <= 3),
        undirected AS (
          SELECT src, dst FROM wedges UNION SELECT dst, src FROM wedges),
        reach(id, r) AS (
          SELECT src, src FROM undirected
          UNION
          SELECT u.dst, reach.r FROM undirected u JOIN reach ON u.src = reach.id),
        wcluster AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        clustered AS (
          SELECT s.doc_id AS id, coalesce(wc.cluster, w.rep) AS cluster
          FROM sim s JOIN words w ON s.w = w.w
          LEFT JOIN wcluster wc ON w.rep = wc.id)
        SELECT c.id, c.cluster,
               (row_number() OVER (PARTITION BY c.cluster
                  ORDER BY length(d.text) DESC, c.id ASC) = 1) AS keep
        FROM clustered c JOIN docs d ON c.id = d.doc_id
        ORDER BY id
      """)),

    // Exact n-gram Jaccard on a bounded window of docs — the verify
    // kernel in isolation. Oracle: DuckDB list comprehension rebuilds the
    // same distinct word-bigram sets; |∩|/|∪| of small ints divides to
    // the identical IEEE double on both engines.
    Query(
      "q43_ngram_jaccard",
      (s, dir) => {
        val docs = dupedDocs(s, dir)
          .filter(F.pmod(F.col("doc_id"), F.lit(1000000)) < 60)
          .select(F.col("doc_id"), Dedup.shingles(F.col("text"), 2).as("sh"))
          .persist()
        val a = docs.select(F.col("doc_id").as("id_a"), F.col("sh").as("sh_a"))
        val b = docs.select(F.col("doc_id").as("id_b"), F.col("sh").as("sh_b"))
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
          .select(F.col("id_a"), F.col("id_b"),
            Dedup.jaccard(F.col("sh_a"), F.col("sh_b")).as("jaccard"))
          .filter(F.col("jaccard") >= 0.2)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH docs AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 60
          UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 60
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                      ELSE list_distinct([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
                 END AS sh
          FROM (SELECT doc_id, string_split($normSql, ' ') AS ws FROM docs)
        )
        SELECT id_a, id_b, jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        WHERE jaccard >= 0.2
        ORDER BY id_a, id_b
      """)),

    // Embedding near-dup: hyperplane-LSH buckets, cosine ≥ 0.99 within
    // bucket. Corpus ∪ copy ⇒ every vector has one exact dup (cos = 1).
    // Oracle: all-pairs threshold — equivalent because identical vectors
    // always share an LSH bucket and no non-identical pair reaches even
    // 0.98 in this corpus (measured; ≥0.01 margin below the threshold,
    // so engine float-accumulation differences cannot flip membership).
    // The cos value itself is excluded: last-ULP accumulation order
    // differs across engines.
    // (These two fix τ = 0.99, where one-bucket LSH recall is exact by
    // the identical-vector argument. Pair mining at ARBITRARY τ goes
    // through Similarity.cosinePairsComplete, whose candidates are
    // complete at any τ — q55, q58.)
    // Incremental embedding near-dup: new vector batch (shifted copy)
    // against the stored hyperplane index — q80's embedding twin. Same
    // 0.99 threshold and containment argument as q44: identical vectors
    // share a bucket by construction and the corpus has a ≥0.01 margin
    // below the threshold, so the cross-set oracle is exact.
    Query(
      "q81_incremental_embedding",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select(F.col("vec_id"), F.col("embedding"))
        val index = Similarity.hyperplaneIndex(e).persist()
        val batch = Similarity.hyperplaneIndex(
          e.select((F.col("vec_id") + 1000000).as("vec_id"), F.col("embedding"))).persist()
        Similarity.incrementalCosinePairs(index, batch, 0.99)
          .select("id_a", "id_b")
          .orderBy("id_a", "id_b")
      },
      Some("""
        SELECT a.vec_id AS id_a, b.vec_id + 1000000 AS id_b
        FROM embeddings a, embeddings b
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
        ORDER BY id_a, id_b
      """)),

    Query(
      "q44_embedding_dedup",
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select(F.col("vec_id"), F.col("embedding"))
        val corpus = e.unionByName(
          e.select((F.col("vec_id") + 1000000).as("vec_id"), F.col("embedding")))
        val bucketed = corpus.withColumn("bucket",
          Similarity.hyperplaneBucket(F.col("embedding")))
          .persist()
        val a = bucketed.select(F.col("vec_id").as("id_a"), F.col("embedding").as("v_a"),
          F.col("bucket"))
        val b = bucketed.select(F.col("vec_id").as("id_b"), F.col("embedding").as("v_b"),
          F.col("bucket"))
        a.join(b, "bucket")
          .filter(F.col("id_a") < F.col("id_b"))
          .select(F.col("id_a"), F.col("id_b"),
            Similarity.cosineNative(s)(F.col("v_a"), F.col("v_b")).as("cos"))
          .filter(F.col("cos") >= 0.99)
          .select("id_a", "id_b")
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM corpus a, corpus b
        WHERE a.vec_id < b.vec_id
          AND list_cosine_similarity(a.embedding, b.embedding) >= 0.99
        ORDER BY id_a, id_b
      """)),

    // Similarity search baseline: exact brute-force cosine top-5 for a
    // broadcast query set; emits ranks (engine-portable determinism).
    Query(
      "q45_knn_brute",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(F.col("vec_id") < 10)
        Similarity.bruteForceTopK(e, queries, 5)
          .select("query_id", "neighbor_id", "rank")
          .orderBy("query_id", "rank")
      },
      Some("""
        SELECT query_id, neighbor_id, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                            c.vec_id) AS rank
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        WHERE rank <= 5
        ORDER BY query_id, rank
      """)),

    // Scale-path ANN: hyperplane-LSH bucketed top-k. Recall < 1 vs
    // brute force by design — but the BUCKETS are deterministic
    // fixed-point integers both engines replay identically, so the
    // oracle reproduces the whole approximate computation (bucket →
    // bucket-join → cosine rank) and the result is fully hash-checked.
    Query(
      "q46_knn_lsh",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(F.col("vec_id") < 10)
        Similarity.lshTopK(e, queries, 5, planes = 4)
          .select("query_id", "neighbor_id", "rank")
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${bucketSql("embedding", 4)} AS bucket
          FROM embeddings)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                            c.vec_id) AS rank
          FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        WHERE rank <= 5
        ORDER BY query_id, rank
      """)),

    // Language ID: marker-lexicon scan + argmax, one pass, no shuffle
    // until the confusion-matrix rollup.
    Query(
      "q47_langid",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(F.col("lang"), TextOps.langId(F.col("text")).as("predicted"))
          .groupBy("lang", "predicted")
          .agg(F.count(F.lit(1)).as("n"))
          .orderBy("lang", "predicted")
      },
      Some {
        val scores = TextOps.langMarkers.map { case (lang, ws) =>
          lang -> s"len(regexp_extract_all($normSql, '\\b(${ws.mkString("|")})\\b'))"
        }
        val best = scores.map(_._2).mkString("greatest(", ", ", ")")
        val argmax = scores.reverse.foldLeft("'und'") { case (acc, (lang, s)) =>
          s"CASE WHEN $best > 0 AND $s = $best THEN '$lang' ELSE $acc END"
        }
        s"""
        SELECT lang, predicted, count(*) AS n
        FROM (SELECT lang, $argmax AS predicted FROM documents)
        GROUP BY lang, predicted
        ORDER BY lang, predicted
        """
      }),

    // Quality scoring: length band + stopword ratio + punctuation ratio.
    Query(
      "q48_quality",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(F.col("doc_id"),
            TextOps.tokenCount(F.col("text")).as("n_tokens"),
            TextOps.stopwordCount(F.col("text")).as("n_stopwords"),
            TextOps.qualityScore(F.col("text")).as("quality"))
          .orderBy("doc_id")
      },
      Some {
        val stopPat = TextOps.stopwords.mkString("\\b(", "|", ")\\b")
        s"""
        SELECT doc_id,
               CASE WHEN length($normSql) = 0 THEN 0
                    ELSE len(string_split($normSql, ' ')) END AS n_tokens,
               len(regexp_extract_all($normSql, '$stopPat')) AS n_stopwords,
               least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
               + least(CASE WHEN (CASE WHEN length($normSql) = 0 THEN 0
                                  ELSE len(string_split($normSql, ' ')) END) = 0 THEN 0.0
                            ELSE CAST(len(regexp_extract_all($normSql, '$stopPat')) AS DOUBLE)
                                 / (CASE WHEN length($normSql) = 0 THEN 0
                                    ELSE len(string_split($normSql, ' ')) END) END * 4.0, 1.0) * 0.4
               + (1.0 - least(CASE WHEN length(text) = 0 THEN 0.0
                              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                                   / length(text) END * 5.0, 1.0)) * 0.2
               AS quality
        FROM documents
        ORDER BY doc_id
        """
      }),

    // Token counting: whitespace + BPE-ish subword proxy.
    Query(
      "q49_token_count",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(F.col("doc_id"),
            TextOps.tokenCount(F.col("text")).as("ws_tokens"),
            TextOps.tokenCountBpeIsh(F.col("text")).as("bpe_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id,
               CASE WHEN length($normSql) = 0 THEN 0
                    ELSE len(string_split($normSql, ' ')) END AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens
        FROM documents
        ORDER BY doc_id
      """)),

    // Sequence packing: per-source concat-and-chunk pack assignment at
    // a 512-token budget (power of two => the double division is exact
    // on every engine). Oracle: the same ws-token count and a
    // partitioned cumsum window in SQL.
    Query(
      "q83_sequence_packing",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(F.col("doc_id"), F.col("source"),
            TextOps.tokenCount(F.col("text")).cast("long").as("tok"))
        Sampling.packSequences(docs, "source", "doc_id", F.col("tok"), 512)
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id, source, tok,
               CAST(floor((sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - tok) / 512.0) AS BIGINT)
                 AS pack_id
        FROM (SELECT doc_id, source,
                CASE WHEN length($normSql) = 0 THEN 0
                     ELSE len(string_split($normSql, ' ')) END AS tok
              FROM documents)
        ORDER BY doc_id
      """)),

    // Mixture reweighting: per-source keep-rates toward a 50/30/20
    // target over src0/src1/src2 under a 200-doc budget; untargeted
    // sources rate 0. Oracle: the same counts and exact-long-then-one-
    // double-division arithmetic in SQL.
    Query(
      "q84_mixture_rates",
      (s, dir) => {
        Sampling.mixtureRates(Tables.documents(s, dir), "source",
          Map("src0" -> 5000, "src1" -> 3000, "src2" -> 2000), budget = 200L)
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n,
               least(10000, CAST(floor(
                 CAST(200 * (CASE source WHEN 'src0' THEN 5000
                                         WHEN 'src1' THEN 3000
                                         WHEN 'src2' THEN 2000
                                         ELSE 0 END) AS DOUBLE)
                 / count(*)) AS BIGINT)) AS rate_bp
        FROM documents GROUP BY source ORDER BY source
      """)),

    // Bloom-gated incremental EXACT dedup: a daily batch (half exact
    // copies of the indexed corpus, half genuinely new revisions)
    // against a stored Bloom sketch of the index's content keys. The
    // sketch rules most new rows out on the scan side; only
    // bloom-positives reach the exact anti-join, whose output equals a
    // plain anti-join — the sketch is a performance layer only, so the
    // DuckDB oracle replays it as NOT EXISTS.
    Query(
      "q85_bloom_incremental",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(F.col("doc_id"), F.col("text"))
        val index = d.select(Dedup.exactKey(F.col("text")).as("content_key"))
        val batch = d.select(
            (F.col("doc_id") + 1000000L).as("doc_id"),
            F.when(F.col("doc_id") % 2 === 1,
                F.concat(F.col("text"), F.lit(" v2")))
              .otherwise(F.col("text")).as("text"))
          .select(F.col("doc_id"),
            Dedup.exactKey(F.col("text")).as("content_key"))
        // the sketch build is the stored-index step of an ingest cycle
        // (deliberate action at build; see Dedup.bloomSketch)
        val sketch = Dedup.bloomSketch(index, "content_key",
          expectedItems = 100000L)
        Dedup.bloomNewDocs(batch, index, sketch, "content_key")
          .orderBy("doc_id")
      },
      Some(s"""
        WITH index_keys AS (SELECT md5($normSql) AS content_key FROM documents),
        batch AS (
          SELECT doc_id + 1000000 AS doc_id,
                 CASE WHEN doc_id % 2 = 1 THEN text || ' v2' ELSE text END AS text
          FROM documents),
        batch_keys AS (SELECT doc_id, md5($normSql) AS content_key FROM batch)
        SELECT doc_id, content_key FROM batch_keys b
        WHERE NOT EXISTS (SELECT 1 FROM index_keys i
                          WHERE i.content_key = b.content_key)
        ORDER BY doc_id
      """)),

    // Document fingerprinting: md5 of normalized content, rolled up by
    // source to spot templated/boilerplate sources.
    Query(
      "q50_fingerprint",
      (s, dir) => {
        Tables.documents(s, dir)
          .select(F.col("source"), TextOps.fingerprintMd5(F.col("text")).as("fp"))
          .groupBy("source")
          .agg(F.count(F.lit(1)).as("n_docs"), F.countDistinct(F.col("fp")).as("n_distinct"))
          .orderBy("source")
      },
      Some(s"""
        SELECT source, count(*) AS n_docs, count(DISTINCT md5($normSql)) AS n_distinct
        FROM documents
        GROUP BY source
        ORDER BY source
      """)),

    // Exact cosine pairs above a threshold, candidate-fed from IVF cell
    // co-assignment — the registered artifact IS the scale path: no
    // corpus×corpus join anywhere in the plan (candidates come from a
    // scalar (id, cell) self-join; work is Σ_cell |cell|², linear-ish
    // as nlist grows with the corpus). The all-pairs DuckDB oracle
    // pins recall: hash-equality asserts the probed cells caught every
    // true pair. Threshold 0.4 sits ≥1e-4 from every pair at the
    // tested scales — engine float-accumulation differences cannot
    // flip membership. `Similarity.cosinePairs` (all-pairs) stays as
    // the test-only exactness anchor (PipelineSpec).
    Query(
      "q55_cosine_pairs",
      (s, dir) => {
        // r11: the triangle-inequality COMPLETE candidate set — the
        // sf0.1 sweep caught the empirical cell co-assignment missing
        // ~9% of true pairs at this low threshold (66 deg radius);
        // cosinePairsComplete guarantees candidates ⊇ every true pair
        Similarity.cosinePairsComplete(Tables.embeddings(s, dir), 0.4)
          .select("id_a", "id_b")
          .orderBy("id_a", "id_b")
      },
      Some("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND list_cosine_similarity(a.embedding, b.embedding) > 0.4
        ORDER BY id_a, id_b
      """)),

    // Duplicate-cluster resolution: exact cosine pairs as edges →
    // connected components → one cluster label per transitive duplicate
    // set. Oracle: the same edges in a DuckDB recursive CTE.
    Query(
      "q58_dup_clusters",
      (s, dir) => {
        // candidate-fed edges (same scale path as q55): the registered
        // artifact carries no corpus×corpus join; the all-pairs DuckDB
        // oracle doubles as the recall pin for the edge set
        val edges = Similarity.cosinePairsComplete(Tables.embeddings(s, dir), 0.4)
        Dedup.connectedComponents(edges)
          .select("id", "cluster")
          .orderBy("id")
      },
      Some("""
        WITH RECURSIVE edges AS (
          SELECT a.vec_id AS src, b.vec_id AS dst
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id
            AND list_cosine_similarity(a.embedding, b.embedding) > 0.4
        ),
        undirected AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        reach(id, r) AS (
          SELECT src, src FROM undirected
          UNION
          SELECT u.dst, reach.r FROM undirected u JOIN reach ON u.src = reach.id
        )
        SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id
      """)),

    // Scale-path ANN #2: IVF — deterministic Lloyd refinement, probe the
    // nprobe nearest cells. Approximate by construction (recall < 1 vs
    // brute force on tiny corpora) — so the oracle replays the WHOLE
    // IVF computation in SQL: the two Lloyd rounds unroll into CTEs
    // (init = nlist lowest-id vectors; assign = rank-1 cell; re-average
    // = per-dim mean cast to float), then indexing, probing and the
    // within-candidate ranking. Deterministic end-to-end, so centroid
    // training, cell assignment and probing are all hash-checked —
    // under the honest production nprobe, not one inflated to make a
    // brute-force oracle pass.
    Query(
      "q56_knn_ivf",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(F.col("vec_id") < 10)
        Similarity.ivfTopK(e, queries, 5, nlist = 16, nprobe = 4)
          .select("query_id", "neighbor_id", "rank")
          .orderBy("query_id", "rank")
      },
      Some(ivfSql(nlist = 16, nprobe = 4, k = 5, dims = 64))),

    // Multimodal metadata: payload as opaque binary + cheap header-level
    // metadata, no decode — stays entirely in the scan stage.
    Query(
      "q51_multimodal_meta",
      (s, dir) => {
        Multimodal.documentsAsMedia(Tables.documents(s, dir))
          .select(F.col("doc_id"),
            F.octet_length(F.col("payload")).as("n_bytes"),
            F.ascii(F.col("payload").cast("string")).as("first_byte"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               ascii(text) AS first_byte
        FROM documents
        ORDER BY doc_id
      """)),

    // Multimodal decode: batched per-partition feature extraction over
    // the binary column (STUB kernel — deterministic fake features; the
    // partitioning/batching/schema plumbing is the real deliverable).
    // The stub derives its features from md5 of the payload bytes
    // precisely so this query gets a REAL hash-checked oracle: DuckDB
    // replays the same 60-bit digest prefix in SQL.
    Query(
      "q52_multimodal_decode",
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        Multimodal.extractFeatures(
            Multimodal.documentsAsMedia(Tables.documents(s, dir)))
          .toDF()
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               CASE octet_length(encode(text)) % 3
                    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
               CAST(64 + (h % 8) * 32 AS INT) AS width,
               CAST(64 + ((h // 8) % 8) * 32 AS INT) AS height,
               h AS checksum
        FROM (SELECT doc_id, text,
                     ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
              FROM documents)
        ORDER BY doc_id
      """)),

    // kNN label propagation: classify held-out vectors (vec_id % 10 = 0)
    // by majority vote over their 5 nearest labeled corpus vectors —
    // the annotation-bootstrapping primitive. Deterministic tie-breaks
    // (votes desc, label asc); labels ride the one corpus scan.
    Query(
      "q99_knn_classify",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.knnClassify(
            e.filter(F.pmod(F.col("vec_id"), F.lit(10)) =!= 0),
            e.filter(F.pmod(F.col("vec_id"), F.lit(10)) === 0), k = 5)
          .orderBy("query_id")
      },
      Some("""
        WITH nn AS (
          SELECT query_id, lbl FROM (
            SELECT q.vec_id AS query_id, c.label AS lbl,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                              c.vec_id) AS rank
            FROM embeddings q, embeddings c
            WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0)
          WHERE rank <= 5),
        v AS (SELECT query_id, lbl, count(*) AS votes FROM nn GROUP BY 1, 2)
        SELECT query_id, lbl AS predicted_label, votes FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY votes DESC, lbl) AS rk FROM v)
        WHERE rk = 1 ORDER BY query_id
      """)))
}
